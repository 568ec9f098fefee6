package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import graft.{Ckpt, Q, QueryDef, Tables}

/** Analytics operators: exact-at-scale patterns that replace the
  * "collect and compute on the driver" shortcuts a naive engine ships.
  *
  *  - Bitmap-exact distinct: COUNT(DISTINCT) as 64-bit bucket bitmaps —
  *    both aggregation levels are map-side combinable, so the exchange
  *    carries O(|key space|/64) words instead of every raw id.
  *  - Pareto skyline: dominance filtering via a DISTRIBUTED prefix-min
  *    (range partition → local running min → tiny boundary-carry join),
  *    never a single-partition global window and never the quadratic
  *    NOT EXISTS self-join the SQL formulation implies.
  *  - Triangle counting: degree-ordered edge orientation (each triangle
  *    enumerated exactly once from its lowest-degree corner) — the standard
  *    bound that keeps wedge counts Σ outdeg² instead of Σ deg² on skewed
  *    graphs.
  *  - Linear-interpolation resample: the gap-filling twin of
  *    `resample_ffill`, same per-user hourly grid, value drawn from the
  *    straight line between the neighbouring observations.
  *  - Manifest-snapshot scan: the lakehouse table-format pattern — a
  *    manifest file pins the exact parquet file set of a snapshot; the scan
  *    reads the manifest (metadata, driver-side) and plans only those
  *    files, so time travel / snapshot isolation costs no data movement.
  *  - Single-pass column profiling: per-column null/distinct/min/max stats
  *    for four heterogeneous columns from ONE scan of the table, unpivoted
  *    to long form with a narrow Expand.
  */
object Analytics {

  val defs: Seq[QueryDef] = Seq(

    // AN1 — exact distinct via bucket bitmaps. Stage 1 folds raw ids into
    // (key, word_idx) → 64-bit words with bit_or (combinable: partial words
    // OR together); stage 2 sums bit_count over words. Nothing between the
    // scan and the result ever shuffles a raw id: at 10^10 users the
    // exchange carries |users|/64 words per event type, each produced by
    // map-side partial OR. (Spark's own count(DISTINCT) plans an Expand +
    // re-aggregation that shuffles every distinct (key, id) pair once —
    // this shape is the one you deploy when that pair set is the problem.)
    QueryDef(
      "agg_bitmap_distinct",
      Some(
        "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
          "CAST(count(*) AS BIGINT) AS n_events FROM events " +
          "GROUP BY event_type ORDER BY event_type"),
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
        ev.groupBy(col("event_type"), (col("user_id") / 64).cast("long").as("word_idx"))
          .agg(
            expr("bit_or(shiftleft(1L, CAST(pmod(user_id, 64) AS INT)))").as("word"),
            count(lit(1)).as("n"))
          .groupBy(col("event_type"))
          .agg(
            sum(bit_count(col("word"))).cast("long").as("n_users"),
            sum(col("n")).cast("long").as("n_events"))
          .orderBy("event_type")
      }),

    // AN2 — Pareto skyline of part on (minimize p_retailprice, minimize
    // p_size). A point survives iff it has the minimum size at its price
    // AND no strictly cheaper point is as small. The "no cheaper point"
    // test is a prefix-min over price order, computed distributedly:
    // range-partition the per-price minima, running min WITHIN each
    // partition, then carry partition-boundary minima (one tiny row per
    // partition) across via a broadcast join — no single-partition sort of
    // the full set anywhere, unlike the quadratic NOT EXISTS the oracle
    // runs. repartitionByRange sampling is seeded deterministically, so
    // partition ids are stable for a given input.
    QueryDef(
      "skyline_pareto",
      Some(
        "SELECT p_partkey, p_retailprice, p_size FROM part p " +
          "WHERE NOT EXISTS (SELECT 1 FROM part q " +
          "WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size " +
          "AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)) " +
          "ORDER BY p_partkey"),
      (s, d) => {
        val p = Tables.t(s, d, "part")
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        val perPrice = p.groupBy("p_retailprice").agg(min(col("p_size")).as("msize"))
        val withPid = perPrice.repartitionByRange(8, col("p_retailprice"))
          .withColumn("pid", spark_partition_id())
        // boundary carry: min size of every EARLIER partition (≤8 rows)
        val wCarry = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
        val carry = withPid.groupBy("pid").agg(min(col("msize")).as("pmin"))
          .withColumn("carry", min(col("pmin")).over(wCarry))
          .select(col("pid"), col("carry"))
        val wLocal = Window.partitionBy(col("pid")).orderBy(col("p_retailprice"))
          .rowsBetween(Window.unboundedPreceding, -1)
        // least() skips nulls (first row of first partition has neither)
        val stats = withPid
          .withColumn("localprev", min(col("msize")).over(wLocal))
          .join(broadcast(carry), Seq("pid"))
          .select(col("p_retailprice"), col("msize"),
            least(col("localprev"), col("carry")).as("prevmin"))
        p.join(stats, Seq("p_retailprice"))
          .where(col("p_size") <= col("msize") &&
            (col("prevmin").isNull || col("p_size") < col("prevmin")))
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
          .orderBy("p_partkey")
      }),

    // AN3 — triangle count over the supplier co-supply graph (edge = two
    // suppliers sharing ≥4 orders). Edges are oriented low→high by
    // (degree, id), so every triangle is enumerated exactly once from its
    // lowest-degree corner and wedge generation is bounded by Σ outdeg²
    // (orientation halves each degree and points hubs' edges AT them, the
    // classic skew bound — an unoriented wedge join squares the hub degree).
    // The per-order pair explosion is bounded by order size, not supplier
    // popularity.
    QueryDef(
      "graph_triangle_count",
      Some(
        "WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem), " +
          "e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v FROM li a " +
          "JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey " +
          "GROUP BY 1, 2 HAVING count(*) >= 4) " +
          "SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges, " +
          "CAST(count(*) AS BIGINT) AS n_triangles " +
          "FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v"),
      (s, d) => {
        // Edge build in TWO shuffles (not distinct + per-order self-join +
        // pair agg = three, with a sort-merge join in the middle): one
        // groupBy(order) collects each order's distinct
        // sorted supplier set (collect_set subsumes a distinct), the
        // pair explosion runs IN-PARTITION over that array (bounded by
        // order size, ~7 suppliers → ≤21 pairs — never supplier
        // popularity), and one pair agg applies the weight threshold.
        val pairs = Tables.t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
          .where(size(col("ss")) >= 2)
          .select(explode(expr(
            "flatten(transform(ss, (x, i) -> " +
              "transform(slice(ss, i + 2, size(ss)), y -> struct(x AS u, y AS v))))")).as("p"))
          .select(col("p.u").as("u"), col("p.v").as("v"))
        // The edge set feeds THREE consumers (degrees, orientation, the
        // edge count) — and the oriented set feeds three more. Without
        // truncation Spark recomputes the whole build per consumer (~5×);
        // both intermediates are edge-cardinality (tiny next to facts), so
        // they checkpoint, and superseded blocks release deterministically.
        val edges = Ckpt.slot(s"triangle-edges:$d", pairs
          .groupBy("u", "v")
          .agg(count(lit(1)).as("w"))
          .where(col("w") >= 4)
          .select("u", "v"))
        val deg = edges.select(col("u").as("node"))
          .unionAll(edges.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        // orient src→dst where (deg, id) of src < (deg, id) of dst
        // deg is NODE-cardinality (suppliers), always ≪ the edge set —
        // broadcast both orientation joins rather than letting AQE discover
        // it per-run (saves the exchange + the runtime re-plan).
        val oriented = Ckpt.slot(s"triangle-oriented:$d", edges
          .join(broadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
          .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
          .select(
            when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
              struct(col("u").as("n"), col("du").as("dg")))
              .otherwise(struct(col("v").as("n"), col("dv").as("dg"))).as("s"),
            when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
              struct(col("v").as("n"), col("dv").as("dg")))
              .otherwise(struct(col("u").as("n"), col("du").as("dg"))).as("t"))
          .select(col("s.n").as("src"), col("t.n").as("dst"),
            col("t.dg").as("ddeg")))
        // wedges from each low corner: pairs of out-neighbours ordered by
        // (deg, id) so the closing edge is guaranteed oriented b→c
        val e1 = oriented.select(col("src"), col("dst").as("b"), col("ddeg").as("db"))
        val e2 = oriented.select(col("src"), col("dst").as("c"), col("ddeg").as("dc"))
        val wedges = e1.join(e2, Seq("src"))
          .where(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c")))
          .select(col("b"), col("c"))
        val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
        // Pre-shuffle bloom prune (the dedup_incremental_bloom posture): a
        // bloom over xxhash64(b, c) of the closing edges — built in one
        // pass over the edge-sized side — filters wedges INSIDE the
        // generation stage, so the (b, c) exchange carries
        // ~(triangles + fpp·wedges) rows instead of the full Σ outdeg²
        // (73M rows at the 10× rehearsal, the suite's biggest
        // intermediate). The bloom only prunes; the exact join decides.
        // (An adjacency-list flatMap kernel that fused generation + probe
        // was tried and REVERTED: encoder/boxing overhead made it 3×
        // slower than this codegen join + interpreted filter at BOTH
        // rehearsal scales.)
        // Probe via Catalyst's BloomFilterMightContain (the same codegen
        // routing as dedup_incremental_bloom): the
        // sketch inserts xxhash64(b, c) longs, the expression probes
        // mightContainLong on XxHash64(b, c) — bit-identical to a scalar
        // UDF, but vectorizable and inside the codegen stage that
        // GENERATES the wedges, so the pruned 73M-row stream never leaves
        // whole-stage codegen to call a deserialized closure per row.
        val bloomBytes = {
          val bf = closing.stat.bloomFilter(
            xxhash64(col("b"), col("c")), oriented.count(), 0.03)
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          bos.toByteArray
        }
        locally {
          import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
          s.sessionState.functionRegistry.createOrReplaceTempFunction(
            "graft_tri_bloom_probe",
            exprs => BloomFilterMightContain(
              Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
              new XxHash64(exprs)),
            "internal")
        }
        val pruned = wedges.where(expr("graft_tri_bloom_probe(b, c)"))
        // SHUFFLE_HASH, not sort-merge, for the exact verify: hashing
        // builds on the edge-sized side and streams the probe unsorted —
        // and pins the plan across scales (AQE flips the small scale to
        // broadcast otherwise, which poisons the decade exponent).
        val closed = pruned.join(closing.hint("shuffle_hash"), Seq("b", "c"), "left_semi")
        // both counts in ONE aggregation over a tagged union (map-side
        // partial sums; a scalar×scalar crossJoin would plan as BNLJ and
        // weaken the PlanAudit sweep)
        edges.select(lit(1L).as("is_edge"), lit(0L).as("is_tri"))
          .unionAll(closed.select(lit(0L).as("is_edge"), lit(1L).as("is_tri")))
          .agg(sum(col("is_edge")).cast("long").as("n_edges"),
            sum(col("is_tri")).cast("long").as("n_triangles"))
      }),

    // AN4 — linear-interpolation resample: same per-user hourly grid as
    // resample_ffill, but gap values are drawn from the straight line
    // between the neighbouring observations (exact value on observed
    // buckets). prev/next are running last/first-non-null windows — two
    // sorted passes over the grid, no self-join. The grid spans each user's
    // own [min, max] bucket, so both neighbours always exist.
    QueryDef(
      "resample_interpolate",
      Some(
        "WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value, " +
          "epoch_ms(ts) // 3600000 AS bucket FROM events), " +
          "pb AS (SELECT user_id, bucket, arg_max(value, ts_ms * 1000000 + event_id) AS obs, " +
          "CAST(count(*) AS BIGINT) AS n_obs FROM ev GROUP BY 1, 2), " +
          "grid AS (SELECT user_id, unnest(generate_series(min(bucket), max(bucket))) AS bucket " +
          "FROM ev GROUP BY user_id), " +
          "j AS (SELECT g.user_id AS user_id, g.bucket AS bucket, pb.obs AS obs, " +
          "CAST(coalesce(pb.n_obs, 0) AS BIGINT) AS n_obs " +
          "FROM grid g LEFT JOIN pb ON g.user_id = pb.user_id AND g.bucket = pb.bucket), " +
          "f AS (SELECT user_id, bucket, n_obs, " +
          "last_value(obs IGNORE NULLS) OVER wp AS prev_v, " +
          "last_value(CASE WHEN obs IS NOT NULL THEN bucket END IGNORE NULLS) OVER wp AS prevb, " +
          "first_value(obs IGNORE NULLS) OVER wn AS next_v, " +
          "first_value(CASE WHEN obs IS NOT NULL THEN bucket END IGNORE NULLS) OVER wn AS nextb " +
          "FROM j WINDOW " +
          "wp AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
          "wn AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
          // value is emitted as the RAW double: the interpolation expression
          // has identical shape on both engines, so the IEEE results are
          // bit-identical — a decimal rounding step would INTRODUCE skew
          // (Spark rounds the shortest decimal rendering, DuckDB the exact
          // binary expansion; they disagree on ...5-boundary doubles).
          "SELECT user_id, CAST(bucket * 3600000 AS BIGINT) AS bucket_ms, " +
          "CASE WHEN prevb = nextb THEN prev_v ELSE prev_v + (next_v - prev_v) * " +
          "(CAST(bucket - prevb AS DOUBLE) / CAST(nextb - prevb AS DOUBLE)) END AS value, " +
          "n_obs FROM f ORDER BY user_id, bucket_ms"),
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
        val wp = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // "next non-null at or after this bucket" as a RUNNING last() over the
        // DESCENDING order, never first() over a currentRow→
        // unboundedFollowing frame: Spark evaluates unbounded-FOLLOWING frames
        // by re-aggregating the whole tail for every row — O(n²) per partition
        // (measured 51.9 s vs resample_ffill's 1.9 s on the identical
        // 1.05M-row grid under full-result timing). Running
        // unbounded-PRECEDING frames stream in O(n); the reversed sort is the
        // same single extra sort the following-frame plan already paid.
        val wnRev = Window.partitionBy(col("user_id")).orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val obsBucket = when(col("obs").isNotNull, col("bucket"))
        // Three choices make the final global ORDER BY free: (1) the
        // window stage runs on RANGE
        // partitioning by user_id — RangePartitioning(user_id) satisfies
        // the windows' ClusteredDistribution(user_id), and because equal
        // keys co-locate it ALSO satisfies OrderedDistribution(user_id, …)
        // as a prefix; (2) the DESCENDING pass runs first and the
        // ASCENDING pass second, so the stage's output ordering is
        // (user_id, bucket asc); (3) the final sort orders by the
        // pre-projection attributes (bucket, not bucket·3600000 — the
        // expression is order-equivalent but Catalyst matches orderings on
        // attributes only). RemoveRedundantSorts then elides the final
        // SortExec AND its range exchange: 3 sorts + 2 post-join exchanges
        // → 2 sorts + 1 exchange.
        grid.join(perBucket, Seq("user_id", "bucket"), "left")
          .select(col("user_id"), col("bucket"), col("obs"),
            coalesce(col("n_obs"), lit(0L)).as("n_obs"))
          .repartitionByRange(col("user_id"))
          .withColumn("next_v", last(col("obs"), ignoreNulls = true).over(wnRev))
          .withColumn("nextb", last(obsBucket, ignoreNulls = true).over(wnRev))
          .withColumn("prev_v", last(col("obs"), ignoreNulls = true).over(wp))
          .withColumn("prevb", last(obsBucket, ignoreNulls = true).over(wp))
          .orderBy("user_id", "bucket")
          .select(col("user_id"), (col("bucket") * 3600000).as("bucket_ms"),
            when(col("prevb") === col("nextb"), col("prev_v"))
              .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
                ((col("bucket") - col("prevb")).cast("double") /
                  (col("nextb") - col("prevb")).cast("double"))).as("value"),
            col("n_obs"))
      }),

    // AN5 — manifest-snapshot scan (the Iceberg/Delta mechanic): a snapshot
    // is an explicit file list in a manifest; the reader plans exactly
    // those files. Setup (once per dataset) writes orders partitioned by
    // o_orderstatus and a manifest pinning the F+O files only; the query
    // path reads the manifest (driver-side metadata, as every table format
    // does) and scans just that snapshot — partition P's files exist on
    // disk but are never opened, which is the whole point: snapshot
    // isolation priced in metadata, not data movement.
    QueryDef(
      "scan_manifest_snapshot",
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_price " +
          "FROM orders WHERE o_orderstatus IN ('F', 'O') " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      (s, d) => {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val base = Tables.stagingDir("graft_manifest", d)
        val dataDir = s"$base/data"
        val manifest = Paths.get(s"$base/manifest.txt")
        Tables.stage(base, Tables.fingerprint(d, "orders")) {
          Tables.t(s, d, "orders").write.mode("overwrite")
            .partitionBy("o_orderstatus").parquet(dataDir)
          val snapshot = Seq("F", "O").flatMap { st =>
            val dir = Paths.get(s"$dataDir/o_orderstatus=$st")
            Files.list(dir).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(_.toString).toSeq.sorted
          }
          Files.writeString(manifest, snapshot.mkString("\n"))
        }
        val files = Files.readAllLines(manifest).asScala.toSeq
        s.read.option("basePath", dataDir).parquet(files: _*)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_price"))
          .orderBy("o_orderstatus")
      }),

    // AN5b — incremental snapshot consumption (the CDC half of the
    // manifest mechanic, completing scan_manifest_snapshot): two manifests
    // pin two table versions' file sets; the files ADDED between them are
    // a driver-side set difference on manifest lines — metadata only, no
    // data read to discover the delta — and the incremental reader plans
    // exactly those files. A daily 100 TB pipeline consumes the day's new
    // files this way instead of re-scanning the table and anti-joining.
    QueryDef(
      "scan_manifest_incremental",
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_price " +
          "FROM orders WHERE o_orderstatus IN ('O', 'P') " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
      (s, d) => {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val base = Tables.stagingDir("graft_manifest_incr", d)
        val dataDir = s"$base/data"
        val m1 = Paths.get(s"$base/manifest_v1.txt")
        val m2 = Paths.get(s"$base/manifest_v2.txt")
        Tables.stage(base, Tables.fingerprint(d, "orders")) {
          Tables.t(s, d, "orders").write.mode("overwrite")
            .partitionBy("o_orderstatus").parquet(dataDir)
          def files(sts: Seq[String]) = sts.flatMap { st =>
            val dir = Paths.get(s"$dataDir/o_orderstatus=$st")
            Files.list(dir).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(_.toString).toSeq.sorted
          }
          // v1 froze when only F existed; v2 sees the appended O + P files
          Files.writeString(m1, files(Seq("F")).mkString("\n"))
          Files.writeString(m2, files(Seq("F", "O", "P")).mkString("\n"))
        }
        val v1 = Files.readAllLines(m1).asScala.toSet
        val delta = Files.readAllLines(m2).asScala.toSeq.filterNot(v1)
        s.read.option("basePath", dataDir).parquet(delta: _*)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_price"))
          .orderBy("o_orderstatus")
      }),

    // AN6 — table profile: null count, exact distinct count, min and max
    // for four heterogeneous lineitem columns. Shape: one narrow
    // single-column scan per column (columnar format: 4 one-column passes
    // read the same bytes as one 4-column pass), grouped by value with
    // map-side combine, then a 1-row final agg per column — the exchange
    // carries per-partition DISTINCT values only. The tempting alternative,
    // one agg with four count(DISTINCT)s, plans an Expand that multiplies
    // every row ×5 ahead of the shuffle (measured 4.3 s vs 0.6 s at sf0.1
    // — and the gap widens with row count). Numeric min/max are
    // canonicalized through DECIMAL(18,4) so both engines print identical
    // strings.
    QueryDef(
      "profile_table_stats",
      Some {
        def row(c: String, numeric: Boolean) = {
          val mm =
            if (numeric) s"CAST(CAST(min($c) AS ${Q.D4}) AS VARCHAR) AS min_s, " +
              s"CAST(CAST(max($c) AS ${Q.D4}) AS VARCHAR) AS max_s"
            else s"CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s"
          s"SELECT '$c' AS col_name, CAST(count(*) - count($c) AS BIGINT) AS n_null, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, $mm FROM lineitem"
        }
        row("l_orderkey", numeric = false) + " UNION ALL " +
          row("l_quantity", numeric = true) + " UNION ALL " +
          row("l_returnflag", numeric = false) + " UNION ALL " +
          row("l_shipdate", numeric = false) + " ORDER BY col_name"
      },
      (s, d) => {
        val li = Tables.t(s, d, "lineitem")
        def colProfile(c: String, dec: Boolean): DataFrame = {
          val vOut = if (dec) col("v").cast(DecimalType(18, 4)) else col("v")
          li.select(col(c).as("v"))
            .groupBy("v").agg(count(lit(1)).as("cnt"))
            .agg(
              count(col("v")).cast("long").as("n_distinct"),
              coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
                .cast("long").as("n_null"),
              min(vOut).cast(StringType).as("min_s"),
              max(vOut).cast(StringType).as("max_s"))
            .select(lit(c).as("col_name"), col("n_null"), col("n_distinct"),
              col("min_s"), col("max_s"))
        }
        colProfile("l_orderkey", dec = false)
          .unionAll(colProfile("l_quantity", dec = true))
          .unionAll(colProfile("l_returnflag", dec = false))
          .unionAll(colProfile("l_shipdate", dec = false))
          .orderBy("col_name")
      }),

    // AN7 — top-k user journeys: each user's first five events (total
    // order: ts, then event_id) joined into a path string, most common
    // paths ranked. The per-user window parallelizes by user, the path
    // count is a combinable hash agg, and the top-10 fuses into
    // TakeOrdered — no global sort of the path table. collect_list order
    // is partitioning-dependent, so the path is assembled by array_sort
    // over (rn, type) structs, never by collection order.
    QueryDef(
      "path_topk_journeys",
      Some(
        "WITH r AS (SELECT user_id, event_type, row_number() OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), " +
          "p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path " +
          "FROM r WHERE rn <= 5 GROUP BY user_id) " +
          "SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM p " +
          "GROUP BY path ORDER BY n_users DESC, path LIMIT 10"),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5)
          .groupBy("user_id")
          .agg(array_join(
            expr("transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"),
            ">").as("path"))
          .groupBy("path").agg(count(lit(1)).cast("long").as("n_users"))
          .orderBy(col("n_users").desc, col("path")).limit(10)
      }),

    // AN8 — snapshot diff (CDC reconciliation): classify every key across
    // two table versions as added / removed / changed / unchanged via one
    // key-partitioned full outer join + combinable count agg — the op
    // behind "what did this pipeline run change", where the naive
    // approach is EXCEPT-based double scans. Versions are derived
    // deterministically from orders (mod-13 keys missing from v1, mod-11
    // keys deleted in v2, mod-7 prices doubled) so both engines build
    // byte-identical inputs.
    QueryDef(
      "snapshot_diff",
      Some(
        "WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
          "WHERE o_orderkey % 13 <> 0), " +
          "v2 AS (SELECT o_orderkey, o_orderstatus, CASE WHEN o_orderkey % 7 = 0 " +
          "THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice FROM orders " +
          "WHERE o_orderkey % 11 <> 0) " +
          "SELECT status, CAST(count(*) AS BIGINT) AS n FROM (" +
          "SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added' " +
          "WHEN v2.o_orderkey IS NULL THEN 'removed' " +
          "WHEN v1.o_totalprice <> v2.o_totalprice OR v1.o_orderstatus <> v2.o_orderstatus " +
          "THEN 'changed' ELSE 'unchanged' END AS status " +
          "FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey) " +
          "GROUP BY status ORDER BY status"),
      (s, d) => {
        val o = Tables.t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val v1 = o.where(col("o_orderkey") % 13 =!= 0)
          .select(col("o_orderkey").as("k1"), col("o_orderstatus").as("st1"),
            col("o_totalprice").as("pr1"))
        val v2 = o.where(col("o_orderkey") % 11 =!= 0)
          .select(col("o_orderkey").as("k2"), col("o_orderstatus").as("st2"),
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
              .otherwise(col("o_totalprice")).as("pr2"))
        v1.join(v2, col("k1") === col("k2"), "full_outer")
          .select(
            when(col("k1").isNull, "added")
              .when(col("k2").isNull, "removed")
              .when(col("pr1") =!= col("pr2") || col("st1") =!= col("st2"), "changed")
              .otherwise("unchanged").as("status"))
          .groupBy("status").agg(count(lit(1)).cast("long").as("n"))
          .orderBy("status")
      }),

    // AN10 — manifest stats pruning (the other half of the table-format
    // mechanic, completing scan_manifest_snapshot): the manifest carries
    // per-file min/max column stats; a range predicate prunes FILES on the
    // driver before the scan is planned, so query cost tracks the
    // predicate's selectivity, not the table size. Setup (once per
    // dataset) range-partitions lineitem by ship date into 8 files —
    // data clustered on the stats column is what makes file ranges
    // disjoint and pruning sharp — and records each file's [min, max]
    // ship-date in the manifest. The 1997 predicate then plans ~1/7 of
    // the files; the scan-level predicate still applies inside survivors.
    QueryDef(
      "scan_manifest_stats_prune",
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(l_quantity AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_qty " +
          "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
          "AND l_shipdate < TIMESTAMP '1998-01-01'"),
      (s, d) => {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val base = Tables.stagingDir("graft_stats_manifest", d)
        val dataDir = s"$base/data"
        val manifest = Paths.get(s"$base/manifest.tsv")
        Tables.stage(base, Tables.fingerprint(d, "lineitem")) {
          Tables.t(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
            .repartitionByRange(8, col("l_shipdate"))
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite").parquet(dataDir)
          val stats = s.read.parquet(dataDir)
            .groupBy(input_file_name().as("f"))
            .agg(min(unix_millis(col("l_shipdate").cast("timestamp"))).as("lo"),
              max(unix_millis(col("l_shipdate").cast("timestamp"))).as("hi"))
            .collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}")
          Files.writeString(manifest, stats.sorted.mkString("\n"))
        }
        val loMs = java.time.LocalDate.of(1997, 1, 1)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
        val hiMs = java.time.LocalDate.of(1998, 1, 1)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
        val survivors = Files.readAllLines(manifest).asScala.toSeq
          .map(_.split("\t")).collect {
            case Array(f, lo, hi) if lo.toLong < hiMs && hi.toLong >= loMs => f
          }
        s.read.parquet(survivors: _*)
          .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
          .agg(count(lit(1)).cast("long").as("n"),
            Q.out6(sum(Q.dec4(col("l_quantity")))).as("sum_qty"))
      }),

    // AN9 — exact sliding-window distinct: distinct users over the trailing
    // 24 hours, per hour. The naive form re-counts raw ids once per window
    // (24× the data through a distinct agg, or a quadratic range join — the
    // oracle). Here ids fold once into per-(hour, word) bitmap words, each
    // word time-EXPANDS to the ≤24 target hours it contributes to
    // (sequence+explode — a narrow 24× of the compact word table, not the
    // raw ids), and two combinable aggs (bit_or, then sum∘bit_count)
    // produce every window's exact count. Nothing re-reads an id twice, no
    // id ever shuffles, and there is no per-window state: the shape is a
    // pure pipeline of map-side-combining aggregations.
    QueryDef(
      "window_sliding_distinct",
      Some(
        "WITH ev AS (SELECT epoch_ms(ts) // 3600000 AS h, user_id FROM events), " +
          "hours AS (SELECT DISTINCT h FROM ev) " +
          "SELECT CAST(hours.h * 3600000 AS BIGINT) AS h_ms, " +
          "CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users " +
          "FROM hours JOIN ev ON ev.h BETWEEN hours.h - 23 AND hours.h " +
          "GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(expr("ts_ms div 3600000").as("h"), col("user_id"))
        val words = ev
          .groupBy(col("h"), (col("user_id") / 64).cast("long").as("w"))
          .agg(expr("bit_or(shiftleft(1L, CAST(pmod(user_id, 64) AS INT)))").as("word"))
        val contrib = words
          .select(explode(expr("sequence(h, h + 23)")).as("ht"), col("w"), col("word"))
        val present = ev.select(col("h").as("ht")).distinct()
        contrib.join(present, Seq("ht"), "left_semi")
          .groupBy(col("ht"), col("w"))
          .agg(expr("bit_or(word)").as("acc"))
          .groupBy(col("ht"))
          .agg(sum(bit_count(col("acc"))).cast("long").as("n_users"))
          .select((col("ht") * 3600000).as("h_ms"), col("n_users"))
          .orderBy("h_ms")
      }),

    // AN11 — data-quality expectation suite (the Deequ/Great-Expectations
    // gate a production pipeline runs before publishing a table): seven
    // constraints — row count, completeness, min/max ranges, a value
    // domain, and PK uniqueness — evaluated as (check_name, observed,
    // passed) rows. ALL scalar metrics come from ONE combinable aggregate
    // over a 4-column scan; uniqueness gets its own 2-column distinct pass
    // instead of a count(DISTINCT) in the main agg, which would plan an
    // Expand that doubles every row ahead of the shuffle (the
    // profile_table_stats lesson). The two 1-row results meet in a
    // constant-key broadcast and a 7-element struct array explodes into
    // the report. min/max/counts are exact (no accumulation), so observed
    // values are bit-identical cross-engine. The synthetic lineitem
    // genuinely violates unique_pk (45 832 distinct of 60 000 at sf0.01)
    // — the suite reports a real mixed pass/fail verdict, not a tautology.
    QueryDef(
      "dq_expectation_suite",
      Some(
        "WITH m AS (SELECT count(*) AS n, count(l_quantity) AS nq, " +
          "min(l_quantity) AS minq, max(l_quantity) AS maxq, max(l_discount) AS maxd, " +
          "sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS bad_rf " +
          "FROM lineitem), " +
          "u AS (SELECT count(*) AS nk FROM " +
          "(SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) " +
          "SELECT * FROM (" +
          "SELECT 'completeness_quantity' AS check_name, CAST(nq AS DOUBLE) AS observed, nq = n AS passed FROM m, u " +
          "UNION ALL SELECT 'domain_returnflag', CAST(bad_rf AS DOUBLE), bad_rf = 0 FROM m, u " +
          "UNION ALL SELECT 'max_discount', maxd, maxd <= 0.1 FROM m, u " +
          "UNION ALL SELECT 'range_quantity_max', maxq, maxq <= 50 FROM m, u " +
          "UNION ALL SELECT 'range_quantity_min', minq, minq >= 1 FROM m, u " +
          "UNION ALL SELECT 'row_count_min', CAST(n AS DOUBLE), n >= 10000 FROM m, u " +
          "UNION ALL SELECT 'unique_pk', CAST(nk AS DOUBLE), nk = n FROM m, u) " +
          "ORDER BY check_name"),
      (s, d) => {
        val li = Tables.t(s, d, "lineitem")
        val m = li.agg(
          count(lit(1)).as("n"), count(col("l_quantity")).as("nq"),
          min(col("l_quantity")).as("minq"), max(col("l_quantity")).as("maxq"),
          max(col("l_discount")).as("maxd"),
          sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L)).as("bad_rf"))
        val u = li.select(col("l_orderkey"), col("l_linenumber")).distinct()
          .agg(count(lit(1)).as("nk"))
        // constant-key BHJ of the two single-row metric frames (see
        // doc_tfidf_topk for why `when` without otherwise is the key)
        def check(name: String, obs: Column, ok: Column) =
          struct(lit(name).as("check_name"), obs.cast("double").as("observed"), ok.as("passed"))
        m.withColumn("k", when(col("n") >= 0, 0L))
          .join(broadcast(u.withColumn("k", when(col("nk") >= 0, 0L))), "k")
          .select(explode(array(
            check("completeness_quantity", col("nq"), col("nq") === col("n")),
            check("domain_returnflag", col("bad_rf"), col("bad_rf") === 0),
            check("max_discount", col("maxd"), col("maxd") <= 0.1),
            check("range_quantity_max", col("maxq"), col("maxq") <= 50),
            check("range_quantity_min", col("minq"), col("minq") >= 1),
            check("row_count_min", col("n"), col("n") >= 10000),
            check("unique_pk", col("nk"), col("nk") === col("n")))).as("e"))
          .select(col("e.check_name").as("check_name"),
            col("e.observed").as("observed"), col("e.passed").as("passed"))
          .orderBy("check_name")
      }),

    // AN12 — geospatial grid hotspots: geohash-style binning (30°×30°
    // cells) + per-cell density and total great-circle distance to a fixed
    // point. The haversine runs per row as CODEGEN'D BUILT-INS
    // (radians/sin/cos/asin — no UDF, unlike udf_scalar_haversine which
    // showcases the UDF path on purpose), is rounded to 3 dp to absorb
    // libm ulps, and sums EXACTLY via DECIMAL so the per-cell totals are
    // partition-order-independent. One combinable hash agg on the cell
    // key — the spatial-partitioning shape that scales to any point count.
    QueryDef(
      "geo_grid_hotspot",
      Some(
        "WITH g AS (SELECT c_custkey, CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5 AS lat, " +
          "CAST((c_nationkey * 7) % 360 - 180 AS DOUBLE) + 0.5 AS lon FROM customer), " +
          "c AS (SELECT CAST(floor((lat + 90) / 30) AS BIGINT) AS cell_lat, " +
          "CAST(floor((lon + 180) / 30) AS BIGINT) AS cell_lon, " +
          "round(2 * 6371 * asin(sqrt(pow(sin(radians(0 - lat) / 2), 2) + " +
          "cos(radians(lat)) * cos(radians(0)) * pow(sin(radians(0 - lon) / 2), 2))), 3) AS dist FROM g) " +
          "SELECT cell_lat, cell_lon, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(dist AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_dist_km " +
          "FROM c GROUP BY cell_lat, cell_lon ORDER BY cell_lat, cell_lon"),
      (s, d) => {
        val g = Tables.t(s, d, "customer")
          .select(
            ((col("c_custkey") % 180 - 90).cast("double") + 0.5).as("lat"),
            ((col("c_nationkey") * 7 % 360 - 180).cast("double") + 0.5).as("lon"))
        g.select(
            floor((col("lat") + 90) / 30).cast("long").as("cell_lat"),
            floor((col("lon") + 180) / 30).cast("long").as("cell_lon"),
            round(expr(
              "2 * 6371 * asin(sqrt(pow(sin(radians(0 - lat) / 2), 2) + " +
                "cos(radians(lat)) * cos(radians(0)) * pow(sin(radians(0 - lon) / 2), 2)))"),
              3).as("dist"))
          .groupBy("cell_lat", "cell_lon")
          .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("dist")))).as("sum_dist_km"))
          .orderBy("cell_lat", "cell_lon")
      }),

    // AN13 — engine-native in-flight instrumentation: Observation/observe()
    // rides accumulator-backed metrics on a pass that is ALREADY running,
    // so at 100 TB an ETL job's row/sum/violation tallies come for free
    // with the job's own action instead of a second full scan (and unlike
    // a cache-then-count pattern, nothing is persisted). The observed map
    // is filled by the pass's action; the 1-row result is rebuilt from it,
    // so the oracle match proves the in-flight metrics equal a direct
    // aggregate. A fresh Observation per invocation keeps the query
    // re-runnable (the API is single-shot by design).
    QueryDef(
      "profile_observe_metrics",
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(CAST(sum(CAST(l_quantity AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_qty, " +
          "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned, " +
          "CAST(min(l_shipdate) AS VARCHAR) AS min_ship FROM lineitem ORDER BY n_rows"),
      (s, d) => {
        val obs = org.apache.spark.sql.Observation()
        Tables.t(s, d, "lineitem")
          .observe(obs,
            count(lit(1)).as("n_rows"),
            sum(Q.dec4(col("l_quantity"))).as("sum_qty"),
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
            min(col("l_shipdate")).cast(StringType).as("min_ship"))
          .foreach(_ => ())
        val m = obs.get
        val sp = s
        import sp.implicits._
        Seq((
          m("n_rows").asInstanceOf[Long],
          BigDecimal(m("sum_qty").asInstanceOf[java.math.BigDecimal]),
          m("n_returned").asInstanceOf[Long],
          m("min_ship").asInstanceOf[String]))
          .toDF("n_rows", "sum_qty", "n_returned", "min_ship")
          .select(col("n_rows"), Q.out6(col("sum_qty")).as("sum_qty"),
            col("n_returned"), col("min_ship"))
          .orderBy("n_rows")
      }),

    // AN14 — hidden `_metadata` file-lineage columns: every row of a
    // parquet scan can carry the file it came from and its ordinal inside
    // that file, generated by the scan itself (no shuffle, no extra IO).
    // At 100 TB this is how one bad row is traced to the single file to
    // quarantine or rewrite. The check is functional, not cosmetic: the
    // group is recovered ONLY from _metadata.file_path, and
    // _metadata.row_index must span exactly [0, n-1] within each
    // single-file partition — the oracle's plain group-by over the source
    // table matches only if both lineage columns are faithful.
    QueryDef(
      "scan_metadata_lineage",
      Some(
        "SELECT l_returnflag AS file_group, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(0 AS BIGINT) AS min_row_idx, CAST(count(*) - 1 AS BIGINT) AS max_row_idx, " +
          s"CAST(CAST(sum(CAST(l_quantity AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_qty " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY file_group"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_meta_lineage", d)
        Tables.stage(tmp, Tables.fingerprint(d, "lineitem")) {
          // repartition on the partition key first → exactly one file per
          // l_returnflag directory, so row_index must cover 0..n-1
          Tables.t(s, d, "lineitem").select("l_returnflag", "l_quantity")
            .repartition(col("l_returnflag"))
            .write.mode("overwrite").partitionBy("l_returnflag")
            .parquet(s"$tmp/data")
        }
        s.read.parquet(s"$tmp/data")
          .where(col("_metadata.file_size") > 0 &&
            col("_metadata.file_name").endsWith(".parquet"))
          .select(
            regexp_extract(col("_metadata.file_path"), "l_returnflag=([^/]+)/", 1)
              .as("file_group"),
            col("_metadata.row_index").as("ri"),
            col("l_quantity"))
          .groupBy("file_group")
          .agg(
            count(lit(1)).as("n"),
            min(col("ri")).as("min_row_idx"),
            max(col("ri")).as("max_row_idx"),
            Q.out6(sum(Q.dec4(col("l_quantity")))).as("sum_qty"))
          .orderBy("file_group")
      })
  )
}
