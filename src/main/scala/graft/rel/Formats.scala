package graft.rel

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, QueryDef, Tables}

/** Interchange formats beyond parquet (SURVEY §2.B addendum): CSV and ORC
  * round-trips. A lake ingests CSV drops and legacy ORC partitions before
  * standardizing on parquet; these keys prove the source plumbing and that
  * values survive the trip exactly.
  *
  * Determinism notes (SURVEY §7.4):
  *   - CSV doubles: Spark writes `Double.toString` shortest-repr text, which
  *     parses back to the identical bits — so a double survives
  *     parquet→CSV→DataFrame exactly and the oracle can aggregate the
  *     original parquet.
  *   - Reads use an explicit schema. At 100 TB, `inferSchema` is a full
  *     extra pass over the data before the real one; a declared schema makes
  *     the CSV scan single-pass (and keeps types engine-independent).
  *   - ORC is a binary columnar format — doubles/longs round-trip trivially;
  *     the point is exercising the second columnar source Spark ships.
  */
object Formats {

  /** FIXED staging path for the binaryFile ingestion corpus: the DuckDB
    * oracle's read_blob glob is a static literal, so the path cannot carry
    * the dataset hash — instead a marker file records which dataset staged
    * the current corpus and a mismatch triggers a re-stage (Verify/bench
    * run one dataset at a time, and the oracle compare runs after the dump,
    * so the fixed path always holds the right vintage when read).
    */
  private val BinFilesDir = s"${sys.props("java.io.tmpdir")}/graft_binfiles"

  /** Stage every 97th document's UTF-8 bytes as doc_<id>.bin — bounded
    * (≈ n/97 files), deterministic. Files are written EXECUTOR-SIDE via
    * foreachPartition: a driver `.collect()` loop would materialize the
    * selected rows on the driver, which at corpus scale OOMs the staging
    * step itself even though it is 1/97 of documents and never on the
    * timed read path. Each task writes its own partition's
    * files; under local / local-cluster all executors share the host
    * filesystem, which is the same single-box assumption the fixed staging
    * path already makes.
    */
  private def stageBinFiles(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(BinFilesDir)
    // content-fingerprint marker — see Llm.stageLshBuckets
    val fp = Tables.fingerprint(d, "documents")
    val marker = dir.resolve("_dataset")
    if (Files.exists(marker) && Files.readString(marker) == fp) return
    // Single-process assumption: the fixed path is shared, so two JVMs
    // staging different datasets concurrently would race (Verify and Bench
    // are never run concurrently — see the bench protocol).
    if (Files.exists(dir)) {
      val listing = Files.list(dir)
      try listing.forEach(p => Files.deleteIfExists(p))
      finally listing.close()
    }
    Files.createDirectories(dir)
    // capture the RESOLVED path: executor JVMs (local-cluster) carry their
    // own java.io.tmpdir, so the closure must never re-derive BinFilesDir
    val dirStr = dir.toAbsolutePath.toString
    Tables.t(s, d, "documents")
      .where(pmod(col("doc_id"), lit(97L)) === 0L)
      .select(col("doc_id"), col("text"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          Files.write(Paths.get(dirStr, s"doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    Files.writeString(marker, fp)
  }

  def defs: Seq[QueryDef] = Seq(

    // CSV source round-trip: project lineitem to (bigint, string, double),
    // write headered CSV, re-read with a declared schema, aggregate. The
    // oracle aggregates the original parquet — equality proves the text
    // round-trip lost nothing.
    QueryDef(
      "scan_csv_roundtrip",
      Some(
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(l_quantity AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_qty, " +
          s"CAST(CAST(sum(CAST(l_extendedprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_price " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_csv", d)
        // spread before write: the text encode runs post-exchange at
        // cluster width and produces one file per task — a real ingest
        // writes many files, and the read side then parallelizes for free.
        Tables.spread(s, Tables.t(s, d, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"))
          .write.mode("overwrite").option("header", "true").csv(tmp)
        val schema = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_returnflag", StringType),
          StructField("l_quantity", DoubleType),
          StructField("l_extendedprice", DoubleType)))
        s.read.schema(schema).option("header", "true").csv(tmp)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("l_quantity")))).as("sum_qty"),
            Q.out6(sum(Q.dec4(col("l_extendedprice")))).as("sum_price"))
          .orderBy("l_returnflag")
      }),

    // Malformed-input ingest: PERMISSIVE CSV parsing with corrupt-record
    // capture. At 100 TB a handful of mangled rows must NOT kill the job —
    // they land in the _corrupt column (raw line preserved for quarantine)
    // while every parseable field of the row still loads. Corruption is
    // deterministic (doc_id % 7 → unparseable n_chars), so the oracle
    // recomputes the good/bad split from the original table; equality
    // proves both the capture AND that good fields of bad rows survive.
    QueryDef(
      "scan_csv_corrupt_permissive",
      Some(
        "SELECT lang, " +
          "CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good, " +
          "CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad, " +
          "CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END) AS BIGINT) AS sum_chars " +
          "FROM documents GROUP BY lang ORDER BY lang"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_csv_corrupt", d)
        // no spread here: the encode is a trivial concat and the
        // measured shuffle cost exceeded the parallel-write gain
        Tables.t(s, d, "documents")
          .select(concat_ws(",",
            col("doc_id"), col("lang"),
            when(pmod(col("doc_id"), lit(7)) === 0,
              concat(lit("bad"), col("n_chars")))
              .otherwise(col("n_chars").cast(StringType)))
            .as("value"))
          .write.mode("overwrite").text(tmp)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("n_chars", LongType),
          StructField("_corrupt", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(tmp)
          .groupBy("lang")
          .agg(
            sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
            sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_bad"),
            coalesce(sum(when(col("_corrupt").isNull, col("n_chars"))), lit(0L))
              .as("sum_chars"))
          .orderBy("lang")
      }),

    // ORC source round-trip: orders through ORC, then the same aggregate on
    // both sides. DuckDB cannot read ORC, so the oracle runs over the
    // original parquet — valid because ORC preserves binary doubles exactly.
    QueryDef(
      "scan_orc_roundtrip",
      Some(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_price " +
          "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_orc", d)
        Tables.t(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_price"))
          .orderBy("o_orderpriority")
      }),

    // Native-XML source round-trip (Spark 4 ships the XML reader/writer in
    // core): the healthcare-interchange sibling format — FHIR itself
    // defines an XML representation, and claim/lab feeds still arrive as
    // XML at ingestion. Write an orders slice as one <order> element per
    // record, re-read with a DECLARED schema (inference would re-type and
    // re-order columns), and run the same aggregate the oracle runs on the
    // parquet source — equality proves the XML path is value-lossless for
    // the slice (doubles round-trip exactly through Java's shortest-repr
    // text both directions). At 100 TB XML is an INGESTION format only:
    // the first job rewrites it to parquet; this key is that job in
    // miniature.
    QueryDef(
      "scan_xml_roundtrip",
      Some(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_price " +
          "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_xml", d)
        // spread before write: XML element serialization is the
        // expensive half of this key — run it at cluster width, one file
        // per task (XML is not split-readable, so the many-file layout is
        // also what makes the re-read parallel).
        Tables.spread(s, Tables.t(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"))
          .write.mode("overwrite").option("rowTag", "order").format("xml").save(tmp)
        s.read.option("rowTag", "order")
          .schema("o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
          .format("xml").load(tmp)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_price"))
          .orderBy("o_orderpriority")
      }),

    // binaryFile source — the multimodal INGESTION scan: raw payload files
    // (images, audio) enter Spark as (path, modificationTime, length,
    // content) rows before the first job packs them into parquet binary
    // columns (which the multimodal_* keys then process — this key is the
    // step in front of them). The file corpus is staged per invocation
    // from the documents table (every 97th doc's UTF-8 bytes as one .bin
    // file — bounded, deterministic, re-staged when the dataset changes)
    // to a FIXED path so the DuckDB oracle can read the very same files
    // through read_blob. At 100 TB the small-files shape here is the
    // acknowledged anti-pattern this scan exists to ESCAPE: list+read
    // parallelize across executors, and the output lands in parquet
    // immediately — exactly what multimodal_binary models downstream.
    QueryDef(
      "scan_binaryfile_ingest",
      Some(
        "SELECT regexp_extract(filename, '[^/]+$') AS fname, " +
          "CAST(size AS BIGINT) AS n_bytes, md5(hex(content)) AS content_md5 " +
          s"FROM read_blob('$BinFilesDir/*.bin') ORDER BY fname"),
      (s, d) => {
        stageBinFiles(s, d)
        s.read.format("binaryFile").load(s"$BinFilesDir/*.bin")
          .select(
            regexp_extract(col("path"), "[^/]+$", 0).as("fname"),
            col("length").cast("long").as("n_bytes"),
            md5(hex(col("content"))).as("content_md5"))
          .orderBy("fname")
      }),

    // Unpivot/melt: wide measure columns to long (measure, value) rows —
    // the reshape every metrics pipeline needs before a generic per-measure
    // aggregation. Spark's native `unpivot` is a narrow Expand (no shuffle,
    // no UDF); the only shuffle is the final per-measure aggregate.
    QueryDef(
      "unpivot_melt",
      Some(
        "SELECT measure, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(value AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_val " +
          "FROM (SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem " +
          "UNION ALL SELECT 'l_discount', l_discount FROM lineitem " +
          "UNION ALL SELECT 'l_tax', l_tax FROM lineitem) " +
          "GROUP BY measure ORDER BY measure"),
      (s, d) => {
        Tables.t(s, d, "lineitem")
          .select("l_orderkey", "l_quantity", "l_discount", "l_tax")
          .unpivot(
            Array(col("l_orderkey")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "measure",
            "value")
          .groupBy("measure")
          .agg(
            count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("value")))).as("sum_val"))
          .orderBy("measure")
      }),

    // Equi-width histogram: integer bucket arithmetic (floor of an IEEE
    // division by an exact power-of-ten-ish constant — bit-identical cross
    // engine), one hash aggregate with map-side partials. The profile query
    // run before choosing partition bounds on any new 100 TB column.
    QueryDef(
      "agg_histogram",
      Some(
        "SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(min(o_totalprice) AS ${Q.D4}) AS DOUBLE) AS lo, " +
          s"CAST(CAST(max(o_totalprice) AS ${Q.D4}) AS DOUBLE) AS hi " +
          "FROM orders GROUP BY bucket ORDER BY bucket"),
      (s, d) => {
        Tables.t(s, d, "orders")
          .groupBy(floor(col("o_totalprice") / lit(50000.0)).cast(LongType).as("bucket"))
          .agg(
            count(lit(1)).as("n"),
            Q.out4(min(col("o_totalprice"))).as("lo"),
            Q.out4(max(col("o_totalprice"))).as("hi"))
          .orderBy("bucket")
      }),

    // Deterministic mode: most frequent order priority per market segment.
    // Built from groupBy-count + row_number with a total tie-break
    // (count DESC, priority ASC) instead of the built-in `mode()` whose tie
    // choice is engine/partitioning-dependent. The counted table is
    // (segments × priorities) — tiny — so the window costs nothing; the real
    // work is the broadcast dim join + one hash aggregate.
    QueryDef(
      "agg_mode",
      Some(
        "SELECT c_mktsegment, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n FROM " +
          "(SELECT c_mktsegment, o_orderpriority, count(*) AS n, " +
          "row_number() OVER (PARTITION BY c_mktsegment ORDER BY count(*) DESC, o_orderpriority) AS rn " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "GROUP BY c_mktsegment, o_orderpriority) WHERE rn = 1 ORDER BY c_mktsegment"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counted = Tables.t(s, d, "orders")
          .join(broadcast(Tables.t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("c_mktsegment").orderBy(col("n").desc, col("o_orderpriority"))
        counted
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("c_mktsegment"), col("o_orderpriority").as("mode_priority"), col("n"))
          .orderBy("c_mktsegment")
      }),

    // Text source round-trip (completes the parquet/csv/json/orc/text
    // format matrix): tab-joined lines out through the text sink, parsed
    // back with split(); the aggregate's keyed checksums (count, Σlen,
    // Σ id·len) are file-order-independent, so the multi-file read needs
    // no ordering guarantee — exactly how a 100 TB text corpus is stored.
    QueryDef(
      "scan_text_roundtrip",
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(text)) AS BIGINT) AS sum_len, " +
          "CAST(sum((doc_id % 1048576) * len(text)) AS BIGINT) AS keyed_sum, " +
          "CAST(max(doc_id) AS BIGINT) AS max_id FROM documents"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_text", d)
        Tables.t(s, d, "documents")
          .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
          .write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(
            split(col("value"), "\t", 2).getItem(0).cast("long").as("doc_id"),
            split(col("value"), "\t", 2).getItem(1).as("text"))
          .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("sum_len"),
            // id reduced mod 2²⁰ before the product: Σ doc_id·len overflows
            // BIGINT once ids reach production/rehearsal magnitudes (~10¹¹
            // ids × 10⁶ rows); the checksum only needs determinism, not the
            // raw id value
            sum(pmod(col("doc_id"), lit(1048576L)) * length(col("text"))).as("keyed_sum"),
            max(col("doc_id")).as("max_id"))
      }),

    // Parquet schema evolution: a table whose early files predate a column
    // (v1: 2 cols) and whose later files carry it (v2: 3 cols) — the normal
    // state of any long-lived 100 TB table. `mergeSchema` unions the file
    // schemas at planning time; rows from old files surface the new column
    // as NULL, and per-file pruning still applies (each file reads only the
    // leaves it has). The aggregate proves both the union schema and the
    // NULL backfill; the oracle reconstructs the same split from the
    // original table (priority is "present" only for the v2 half).
    QueryDef(
      "scan_schema_evolution",
      Some(
        "WITH v AS (SELECT o_orderstatus, o_totalprice, " +
          "CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority " +
          "FROM orders) " +
          "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(count(o_orderpriority) AS BIGINT) AS n_with_priority, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_total " +
          "FROM v GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_evolve", d)
        val o = Tables.t(s, d, "orders")
        o.where(pmod(col("o_orderkey"), lit(2)) === 0)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").parquet(s"$tmp/f=v1")
        o.where(pmod(col("o_orderkey"), lit(2)) === 1)
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$tmp/f=v2")
        s.read.option("mergeSchema", "true").parquet(s"$tmp/f=v1", s"$tmp/f=v2")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            count(col("o_orderpriority")).as("n_with_priority"),
            Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_total"))
          .orderBy("o_orderstatus")
      }))
}
