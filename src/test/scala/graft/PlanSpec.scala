package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.{Final => FinalLimit, Partial => PartialLimit,
  WindowExecBase, WindowGroupLimitExec, WindowGroupLimitMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §4 — physical-plan-shape assertions: the optimizer must actually
  * be doing the things the 100 TB posture depends on (scan pruning, filter
  * pushdown, broadcast joins, top-k fusion, annotation rewrite).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf
  private def plan(key: String, d: String = sf): String =
    SparkEntry.queries(key)(spark, d).queryExecution.executedPlan.toString

  /** Every node of an executed plan, descending into AQE stages. */
  private def nodes(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }).flatMap(nodes)

  test("B2: nested schema pruning reaches the golden-file scan") {
    val p = plan("scan_projection_pushdown")
    // wide nested Observation table (39 leaves in the golden file), 3
    // projected leaves: the scan must not read the rest
    assert(p.contains("ReadSchema"))
    assert(p.contains("subject"))
    assert(!p.contains("valueQuantity"), "scan reads unprojected nested columns")
  }

  test("C1: predicates are pushed to the parquet scan") {
    val p = plan("filter_predicate")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("In(l_returnflag") || p.contains("GreaterThan"), p)
  }

  test("D1: dimension join broadcasts") {
    assert(plan("join_broadcast_hash").contains("BroadcastHashJoin"))
  }

  test("dedup_incremental_bloom probes via the codegen bloom expression (round-15 task #8)") {
    val p = plan("dedup_incremental_bloom")
    // BloomFilterMightContain's prettyName — the vectorizable built-in probe
    // InjectRuntimeFilter plants; the scalar-UDF ban is enforced by
    // PlanAuditSpec's sweep (this key is not in scalaFuncOk)
    assert(p.contains("might_contain"), s"bloom probe not planned as might_contain:\n$p")
  }

  test("D2: fact-fact join is sort-merge") {
    assert(plan("join_shuffle_sortmerge").contains("SortMergeJoin"))
  }

  test("G3: orderBy.limit fuses into TakeOrderedAndProject") {
    assert(plan("topk_order_limit").contains("TakeOrderedAndProject"))
  }

  test("D9/D9n: asof picks aggregate with HASH aggregates, never SortAggregate") {
    // max_by/min_by(struct) plans as SortAggregate and sorts the whole
    // join fan-out (decade exponent ~1.0); the packed-decimal rewrite keeps
    // both picks HashAggregate-only — a regression to a struct-buffered
    // aggregate reintroduces the fan-out sort silently.
    for (k <- Seq("join_asof", "join_asof_nearest")) {
      val p = plan(k)
      assert(p.contains("HashAggregate"), s"$k lost its hash aggregate:\n$p")
      assert(!p.contains("SortAggregate"),
        s"$k regressed to SortAggregate (struct agg buffer?):\n$p")
    }
  }

  test("graph_triangle_count: hashed closing semi join, broadcast orientation, bloom prune") {
    val p = plan("graph_triangle_count")
    // the closing-edge verify must HASH, never sort the Σ outdeg² wedge
    // stream (and never flip to broadcast at small scale — that poisons
    // the decade exponent); the plan Analytics.scala describes
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"),
      "closing-edge semi join is not a shuffled hash join")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join crept into the triangle plan (wedge-set sort)")
    // (the broadcast orientation joins run eagerly inside the edge-build
    // checkpoint and are not part of this audited plan segment)
    // the wedge-side bloom prune must sit in the plan — as the CODEGEN
    // might_contain expression, not a ScalaUDF
    assert(p.contains("might_contain"), "wedge-side bloom prune filter missing")
  }

  test("embed_label_centroid: partial map-side aggregation; vectors never shuffle whole") {
    val p = plan("embed_label_centroid")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    // plans print top-down, so shuffle-before-explode would put the Exchange
    // line BELOW posexplode; the scale posture needs explode → partial agg
    // → exchange of (label,pos) partials, i.e. Exchange printed above
    assert(p.indexOf("Exchange hashpartitioning") < p.indexOf("Generate posexplode"),
      "vectors shuffle before the partial aggregate")
  }

  test("dedup_corpus_filter: anti-join against the non-representative set broadcasts") {
    val p = plan("dedup_corpus_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.linesIterator.take(8).mkString("\n"))
  }

  test("decontaminate: benchmark gram side broadcasts, documents never shuffle grams pairwise") {
    val p = plan("decontaminate_ngram")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "gram join fell back to a full shuffle")
  }

  test("corpus_ngram_topk: top-k fuses into TakeOrdered; gram agg combines map-side") {
    val p = plan("corpus_ngram_topk")
    assert(p.contains("TakeOrderedAndProject"), "global top-20 is a full sort")
    assert(p.contains("partial_count"), "gram counts have no map-side combine")
  }

  test("doc_tfidf_topk: df and N sides broadcast; fact table never shuffles for the joins") {
    val p = plan("doc_tfidf_topk")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj == 2,
      s"exactly the df join and the constant-key N join must plan as BroadcastHashJoin (saw $bhj)")
    assert(!p.contains("BroadcastNestedLoopJoin"), "scalar N join regressed to BNLJ")
    assert(!p.contains("SortMergeJoin"), "a join fell back to a full shuffle")
  }

  test("unpivot_melt: melt is a narrow Expand, no shuffle before the final agg") {
    val p = plan("unpivot_melt")
    assert(p.contains("Expand"), "unpivot did not plan as Expand")
    assert(p.indexOf("Exchange hashpartitioning") < p.indexOf("Expand"),
      "rows shuffle before the per-measure partial aggregate")
  }

  test("E1: aggregation is partial (map-side) then final") {
    val p = plan("agg_hash_group")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("r17 sort elision: range-partitioned window stages drop the presentation sort") {
    // The v5.3 fullmat protocol charges final ORDER BYs; these keys feed
    // their window stage with repartitionByRange so the window's own sort
    // doubles as the (globally valid) presentation order and
    // RemoveRedundantSorts elides the final SortExec + exchange. A third
    // sort reappearing in resample_interpolate (or a second in the others)
    // means the final sort regressed — e.g. someone re-ordered the window
    // passes or sorted on a projected expression instead of the attribute.
    def sorts(key: String): Int = " Sort \\[".r.findAllIn(plan(key)).length
    assert(sorts("resample_interpolate") == 2,
      s"resample_interpolate must carry exactly the two window sorts:\n${plan("resample_interpolate")}")
    for (k <- Seq("window_rank", "window_ewma", "window_anomaly_zscore", "resample_ffill"))
      assert(sorts(k) == 1, s"$k must carry only its window sort:\n${plan(k)}")
    assert(plan("resample_interpolate").contains("rangepartitioning"),
      "window stage lost its range partitioning")
  }

  test("A6 expression participates in WholeStageCodegen") {
    val patients = SparkTestBase.fhir("Patient")
    val df = patients.selectExpr("id", "fhir_dt_start(birthDate) AS s")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), s"expression fell out of WholeStageCodegen:\n$p")
    // and it evaluates correctly through codegen: every birthDate (a FHIR
    // date) has a start bound
    val n = df.where(col("s").isNotNull).count()
    assert(n > 0 && n == patients.where(col("birthDate").isNotNull).count())
  }

  test("partitioned sink: partition predicate prunes directories") {
    SparkEntry.queries("sink_partitioned_write")(spark, sf).count() // materialize layout
    val pruned = spark.read
      .parquet(Tables.stagingDir("graft_part_orders", sf))
      .where(col("yr") === 1998)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(yr"), p)
    assert(pruned.count() > 0)
  }

  test("bucketed join: no shuffle exchange on either side") {
    val joined = rel.Scale.bucketedJoinFrame(spark, sf)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("runtime bloom filter prunes the fact side before the join shuffle") {
    val p = plan("join_runtime_bloom")
    assert(p.toLowerCase.contains("might_contain"),
      s"no runtime bloom filter was injected:\n${p.take(4000)}")
    // broadcast is disabled for this key — the bloom exists to prune rows
    // ahead of a genuine shuffle join, so the join must be one
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("dynamic partition pruning: dim filter reaches the fact scan's PartitionFilters") {
    val p = plan("join_dynamic_partition_pruning")
    assert(p.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in the fact scan:\n${p.take(4000)}")
    // the pruning subquery rides the dim broadcast — no second dim job
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("sql_api_q5: every dimension side of the 6-table join broadcasts") {
    val p = plan("sql_api_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"region/nation/supplier dims must broadcast:\n${p.take(4000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("zorder layout: per-file z ranges are disjoint, so file stats prune 2-D boxes") {
    SparkEntry.queries("zorder_layout")(spark, sf).count() // materialize layout
    val path = Tables.stagingDir("graft_zorder", sf)
    val ranges = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1, "z-sorted write produced a single file; nothing to prune")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file z-ranges overlap ($hi1 > $lo2): layout not z-clustered")
      case _ =>
    }
  }

  test("agg_bitmap_distinct: raw ids fold into bitmap words map-side before any exchange") {
    val p = plan("agg_bitmap_distinct")
    assert(p.contains("partial_bit_or"), s"no map-side partial bitmap OR:\n${p.take(2000)}")
    assert(p.contains("bit_count"), p.take(1000))
    // both aggregation levels partial-combine: the word agg AND the final sum
    assert(p.contains("partial_sum"), "final count level has no map-side combine")
  }

  test("skyline_pareto: boundary carry broadcasts; no quadratic join anywhere") {
    val p = plan("skyline_pareto")
    assert(p.contains("BroadcastHashJoin"), s"carry join must broadcast:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "skyline regressed to a quadratic dominance join")
  }

  test("graph_triangle_count: closure is left-semi; counts aggregate without a scalar join") {
    val p = plan("graph_triangle_count")
    assert(p.contains("LeftSemi"), s"triangle closure must be a semi join:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), "scalar counts joined via BNLJ")
  }

  test("profile_table_stats: per-column scans are single-column and Expand-free") {
    val p = plan("profile_table_stats")
    // one narrow scan per profiled column — columnar bytes equal one wide
    // pass, and the exchange carries per-partition DISTINCT values only
    assert("Scan parquet".r.findAllIn(p).size == 4, p.take(2000))
    assert(!p.contains("Expand"),
      "profile regressed to the multi-count-DISTINCT Expand (rows ×5 before the shuffle)")
    assert(p.contains("partial_count"), "value groups have no map-side combine")
    Seq("ReadSchema: struct<l_orderkey:bigint>", "ReadSchema: struct<l_quantity:double>")
      .foreach(rs => assert(p.contains(rs), s"scan not pruned to one column:\n$p"))
  }

  test("scan_manifest_snapshot: only manifest-listed files are planned; partition P never opens") {
    val df = SparkEntry.queries("scan_manifest_snapshot")(spark, sf)
    df.count() // materialize the layout + manifest
    val files = df.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("o_orderstatus=F") || f.contains("o_orderstatus=O")),
      s"snapshot scan opened a non-manifest file:\n${files.mkString("\n")}")
  }

  test("path_topk_journeys: top-10 fuses into TakeOrdered; path agg combines map-side") {
    val p = plan("path_topk_journeys")
    assert(p.contains("TakeOrderedAndProject"), "global top-10 is a full sort")
    assert(p.contains("partial_count"), "path counts have no map-side combine")
  }

  test("snapshot_diff: one key-partitioned full outer join, no double scan per side") {
    val p = plan("snapshot_diff")
    assert(p.contains("FullOuter"), p.take(1500))
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"diff must scan each version's source once:\n${p.take(2000)}")
  }

  test("window_sliding_distinct: bitmap pipeline has no window operator and no id shuffle") {
    val p = plan("window_sliding_distinct")
    assert(p.contains("partial_bit_or"), s"ids must fold into words map-side:\n${p.take(2000)}")
    assert(!p.contains("Window"), "sliding distinct regressed to per-window state")
    // plans print top-down (root first); partial_bit_or appears twice (the
    // id→word fold deepest, the window merge above). The time-expand
    // Generate must sit between them — above the id fold — else raw ids
    // explode 24× before aggregating
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0 && gen < p.lastIndexOf("partial_bit_or"),
      "time-expand runs over raw ids instead of words")
  }

  test("scan_manifest_stats_prune: driver-side stats cut the planned file set") {
    val df = SparkEntry.queries("scan_manifest_stats_prune")(spark, sf)
    df.count() // materialize layout + manifest
    val files = df.inputFiles
    assert(files.nonEmpty && files.length < 8,
      s"stats pruning planned ${files.length}/8 files — nothing was pruned")
  }

  test("sql_api_q18: IN-subquery rewrites to a semi join, no per-row probe") {
    val p = plan("sql_api_q18")
    assert(p.contains("LeftSemi"), s"HAVING subquery did not become a semi join:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("sql_api_q7: dimension sides broadcast, no cartesian pair expansion") {
    val p = plan("sql_api_q7")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"symmetric nation-pair predicate degenerated to a non-equi join:\n${p.take(1500)}")
  }

  test("window_streak_days: island and streak aggs reuse the user_id clustering") {
    val p = plan("window_streak_days")
    // one (user_id, day) distinct exchange + one user_id window exchange;
    // both downstream groupBys must be satisfied by the user_id clustering
    // (subset rule) — a third hash exchange means a re-shuffle per step
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"island/streak aggs re-shuffle instead of reusing user_id clustering:\n${p.take(2000)}")
    assert("Scan parquet".r.findAllIn(p).size == 1, "events must be scanned once")
  }

  test("rank_bm25_topk: in-row tf counting, 1-row stats broadcast, no token explode") {
    val p = plan("rank_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"stats row join fell back to a shuffle/BNLJ:\n${p.take(1500)}")
    assert(!p.contains("Generate"), "tokens exploded — tf must count inside the row")
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      s"more than stats + scoring scans:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must fuse into TakeOrdered")
  }

  test("dq_expectation_suite: Expand-free metrics, two scans, broadcast meet") {
    val p = plan("dq_expectation_suite")
    assert(!p.contains("Expand"),
      s"uniqueness regressed to count(DISTINCT)-in-agg (row-doubling Expand):\n${p.take(1500)}")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"metric + uniqueness scans expected, got:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"1-row frames must meet in a BHJ:\n${p.take(1500)}")
  }

  test("attribution_last_touch: one scan, one user-keyed window, no join") {
    val p = plan("attribution_last_touch")
    assert("Scan parquet".r.findAllIn(p).size == 1, "events must be scanned once")
    assert(!p.contains("Join"), "attribution must be a window pass, not an as-of join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "revenue agg has no map-side combine")
  }

  test("time_weighted_avg: one scan, window then combinable agg, no join") {
    val p = plan("time_weighted_avg")
    assert("Scan parquet".r.findAllIn(p).size == 1, "events must be scanned once")
    assert(!p.contains("Join"), p.take(1200))
    assert(p.contains("partial_sum"), "TWA sums have no map-side combine")
  }

  test("rfm_segmentation: window-free tile assignment from broadcast boundaries") {
    val p = plan("rfm_segmentation")
    assert("Scan parquet".r.findAllIn(p).size == 1, "orders must be scanned once")
    // the per-customer rollup must combine BEFORE the exchange: plans print
    // top-down, so the partial agg line sits BELOW its exchange
    assert(p.contains("partial_count"), "customer rollup has no map-side combine")
    assert(!p.contains("Join"), p.take(1200))
    // tiles come from nine broadcast-literal boundary tuples, so the returned plan has NO window at all — in particular no
    // global single-partition ntile sort
    assert(!p.contains("Window"), s"tile assignment regressed to a window:\n${p.take(1200)}")
  }

  test("er_blocked_levenshtein: vocabulary self-join broadcasts, no all-pairs") {
    val p = plan("er_blocked_levenshtein")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking key failed to make the pair join an equi-join:\n${p.take(1500)}")
    assert(p.contains("partial_count"), "name rollup has no map-side combine")
  }

  test("scan_partition_prune: the year filter lands in PartitionFilters") {
    val p = plan("scan_partition_prune")
    assert(p.contains("PartitionFilters: [") && p.contains("yr"),
      s"partition-column filter did not become a PartitionFilter:\n${p.take(1500)}")
    // the filter must NOT degrade to a post-scan data filter on yr
    assert(!p.contains("PushedFilters: [In(yr"), "yr filter pushed as a data filter instead")
  }

  test("geo_grid_hotspot: codegen'd builtin haversine, one combinable cell agg") {
    val p = plan("geo_grid_hotspot")
    assert("Scan parquet".r.findAllIn(p).size == 1)
    assert(p.contains("partial_count"), "cell agg has no map-side combine")
    assert(!p.contains("BatchEvalPython") && !p.contains("Invoke"), "haversine left codegen")
  }

  test("join_null_safe: EqualNullSafe stays a hash join, no nested-loop fallback") {
    val p = plan("join_null_safe")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe key fell out of the hash join path:\n${p.take(1500)}")
  }

  test("sql_api_q21: EXISTS/NOT EXISTS decorrelate to key-partitioned semi+anti joins") {
    val p = plan("sql_api_q21")
    assert(p.contains("LeftSemi"), "EXISTS did not decorrelate to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not decorrelate to an anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"correlated subquery fell back to a nested-loop probe:\n${p.take(1500)}")
  }

  test("markov_transitions: one scan, window then combinable pair agg, no join") {
    val p = plan("markov_transitions")
    assert("Scan parquet".r.findAllIn(p).size == 1, "events must be scanned once")
    assert(!p.contains("Join"), p.take(1200))
    assert(p.contains("partial_count"), "pair counts have no map-side combine")
  }

  test("agg_weighted_median: two-level scan — bucketed windows, broadcast offsets, one scan") {
    // The two-pass plan of rel/Aggs.scala: pass 1 rolls the fact rows up to
    // (rf, bucket) weight totals and finds each group's crossing bucket;
    // pass 2 re-scans the narrow fact columns and keeps only that bucket's
    // rows through a broadcast join. The pin reads the plan after execution,
    // when AQE has settled the join strategies.
    val df = SparkEntry.queries("agg_weighted_median")(spark, SparkTestBase.sf)
    df.collect()
    // AdaptiveSparkPlan.toString prints BOTH the final and the initial
    // plan; the scan count must read the final section only
    val root = df.queryExecution.executedPlan
    val p = root.toString.split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"lineitem must be scanned exactly twice, pass-1 totals and pass-2 crossing slice:\n${p.take(1500)}")
    assert(p.contains("partial_sum"), "(group,value) rollup has no map-side combine")
    // the pass-1 offsets window runs over the (rf, bucket) totals, ordered
    // by bucket: at most nBuckets rows per group
    assert(p.contains("windowspecdefinition(rf") && p.contains(", bucket"),
      s"offsets window lost its bucket order key:\n${p.take(1500)}")
    // the crossing buckets come back via broadcast only; a shuffled join
    // here would re-serialize the fact slice
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p.take(1500))
    // the v-ordered cumulative window runs only over the crossing slice:
    // the broadcast crossing join lies beneath it, so it never spans the
    // whole (rf, v) vocabulary
    val cumWindows = nodes(root).collect {
      case w: WindowExecBase if w.orderSpec.exists(_.child.references.exists(_.name == "v")) => w
    }
    assert(cumWindows.nonEmpty, s"no v-ordered window:\n${p.take(1500)}")
    cumWindows.foreach { w =>
      assert(nodes(w).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"cumulative window is not above the broadcast crossing join:\n$w")
    }
  }

  test("negative_sampling_pairs: ring join is equi, never cross") {
    val p = plan("negative_sampling_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ring bucket key failed to make the candidate join equi:\n${p.take(1500)}")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(1200))
  }

  test("window_anomaly_zscore: combined daily rollup, then only the rollup re-shuffles") {
    val p = plan("window_anomaly_zscore")
    // raw events must combine map-side before the first exchange; after the
    // (user_id, day) agg only daily rows move, so exactly one more hash
    // exchange (user_id, for the trailing window) is allowed
    assert(p.contains("partial_count"),
      s"daily rollup has no map-side combine — raw events cross the wire:\n${p.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"more than rollup + window exchanges:\n${p.take(2000)}")
    assert("Scan parquet".r.findAllIn(p).size == 1, "events must be scanned once")
  }

  test("agg_corr_matrix: one scan, map-side-combined moment sums") {
    val p = plan("agg_corr_matrix")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"all 12 moments must come from ONE pass over lineitem:\n${p.take(2000)}")
    assert(p.contains("partial_sum"), "moment sums have no map-side combine")
  }

  test("dedup_line_level: one scan, no freq join — window replaces distinct-count") {
    val p = plan("dedup_line_level")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"chunk subtree recomputed per consumer:\n${p.take(2000)}")
    assert(!p.contains("Join"), "chunk doc-frequency regressed to an agg+join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"more than chunk-agg + window + doc-agg exchanges:\n${p.take(2000)}")
  }

  test("scan_manifest_incremental: delta scan plans only files added after v1") {
    val df = SparkEntry.queries("scan_manifest_incremental")(spark, sf)
    df.count() // materialize layout + manifests
    val files = df.inputFiles
    assert(files.nonEmpty && files.forall(f => !f.contains("o_orderstatus=F")),
      s"incremental scan read v1 (F-partition) files: ${files.mkString(", ")}")
  }

  test("AnnotationRewrite: string-date predicate becomes annotation predicate") {
    val tmp = SparkTestBase.tempDir("graft_plan_annotated").toString
    fhir.FhirAnnotations.annotateRange(SparkTestBase.fhir("Patient"), "birthDate")
      .write.mode("overwrite").parquet(tmp)
    val table = spark.read.parquet(tmp)
    val q = table
      .where(col("birthDate").cast("timestamp") >= lit("1990-01-01").cast("timestamp"))
      .select("id")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("__birthDate_start"), optimized)
    assert(!optimized.toLowerCase.contains("cast(birthdate"), optimized)
    // the typed predicate is pushable to the parquet scan; the rewrite
    // runs at analysis (a resolution rule), so the raw string column is
    // pruned from the scan entirely and even the inferred IsNotNull lands
    // on the typed annotation column
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(__birthDate_start), GreaterThanOrEqual(__birthDate_start"),
      physical)
    assert(!physical.contains("ReadSchema: struct<id:string,birthDate"), physical)
    // and the rewrite preserves results
    val expected = table
      .where(col("birthDate") >= "1990-01-01") // string-compare ground truth
      .select("id").collect().map(_.getString(0)).sorted
    val got = q.collect().map(_.getString(0)).sorted
    assert(got.sameElements(expected))
  }

  /** Spark jobs `body` runs, counted by job group. A marker job in its own
    * group runs after it: the listener bus delivers in order, so once the
    * marker is seen every job of `body` has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft_counted_${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(); ()
          case g if g == s"${group}_marker" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"${group}_marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never reached the listener")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("one-pass ingest: an annotated codec frame runs as a bare Scan ExistingRDD and writes in one job") {
    val path = java.nio.file.Paths.get(getClass.getResource("/fhir/Observation.ndjson").toURI).toString
    val text = spark.read.textFile(path)
    val enc = fhir.FhirCodec.encode(spark, text, fhir.FhirSchema.deriveSchema(spark, text))
    val a = fhir.FhirAnnotations.canonicalize(
      fhir.FhirAnnotations.annotateNumeric(
        fhir.FhirAnnotations.annotateNumeric(
          fhir.FhirAnnotations.annotateRange(enc, "effectiveDateTime"),
          "valueQuantity.value"),
        "component.valueQuantity.value"),
      "valueQuantity")
    val p = a.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p)
    for (node <- Seq("Project", "BroadcastExchange", "BroadcastHashJoin"))
      assert(!p.contains(node), s"annotated codec frame plans a $node:\n$p")
    val dir = SparkTestBase.tempDir("graft_onepass_write_").resolve("Observation.parquet").toString
    val jobs = jobsOf(fhir.FhirWriter.write(a, dir))
    assert(jobs == 1, s"the annotated write ran $jobs jobs")
  }

  test("AnnotationRewrite: decimal-string predicate gains a typed __value_numeric pruning conjunct") {
    val obs = SparkTestBase.fhir("Observation")
    val q = obs
      .where(col("valueQuantity.value").cast("double") >= 40.0)
      .select("id")
    val optimized = q.queryExecution.optimizedPlan.toString
    // the exact string predicate SURVIVES (the 6-dp twin can only prune,
    // never replace) and the relaxed typed conjunct appears beside it
    assert(optimized.contains("__value_numeric"), optimized)
    // margin = 1e-6 + 2*ulp(40), quantized outward (floor) at 6 dp
    assert(optimized.contains("39.999998"), optimized)
    // …and exactly once: each analyzer fixpoint pass re-runs the rule, and
    // the schema-based guard must stop a later pass from re-adding the
    // conjunct
    assert(optimized.sliding("39.999998".length).count(_ == "39.999998") == 1, optimized)
    assert(optimized.toLowerCase.contains("cast(valuequantity"), optimized)
    // a comparison inside OR must NOT spawn a conjunct (not implied)
    val orQ = obs.where(
      col("valueQuantity.value").cast("double") >= 40.0 ||
        col("status") === "amended")
    assert(!orQ.queryExecution.optimizedPlan.toString.contains("__value_numeric"))
    // results equal the rule-free string-cast semantics
    val expected = obs.where(col("valueQuantity.__value_numeric") >= 40.0 ||
        (col("valueQuantity.value").cast("double") >= 40.0))
      .where(col("valueQuantity.value").cast("double") >= 40.0)
      .select("id").collect().map(_.getString(0)).sorted
    assert(q.collect().map(_.getString(0)).sorted.sameElements(expected))
  }

  test("AN13: profile_observe_metrics is re-runnable (fresh single-shot Observation per call)") {
    // Observation.get can only serve one pass; the query must mint a new one
    // each invocation or the second bench repeat hangs/throws.
    val a = SparkEntry.queries("profile_observe_metrics")(spark, sf).collect()
    val b = SparkEntry.queries("profile_observe_metrics")(spark, sf).collect()
    assert(a.sameElements(b))
    assert(a.length == 1 && a(0).getLong(0) > 0)
  }

  test("AN14: _metadata lineage scan has no join and no exchange beyond agg + presentation sort") {
    val p = plan("scan_metadata_lineage")
    assert(!p.contains("Join"), "lineage recovery must not join back to the source")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected only the groupBy + orderBy exchanges, saw $exchanges:\n${p.take(1500)}")
  }

  test("bloom layout: IN-list point lookup is pushed to the parquet scan") {
    // row-group bloom pruning only happens when the predicate reaches the
    // reader as a pushed filter — a post-scan Filter reads every group
    val p = plan("scan_parquet_bloom_lookup")
    assert(p.contains("PushedFilters: [In(l_orderkey"), p.take(1500))
  }

  test("F6b: built-in session windows merge inside one user-keyed exchange, no join") {
    val p = plan("window_session_builtin")
    assert(!p.contains("Join"), "session merge must not plan as a self-join")
    assert(p.contains("SessionWindow") || p.contains("session_window"), p.take(800))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"expected the user-keyed exchange + presentation sort only, saw $exchanges:\n${p.take(1500)}")
  }

  test("Q13: outer join survives to keep the zero-order bucket") {
    val p = plan("sql_api_q13")
    assert(p.contains("LeftOuter"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("shuffled hash join: the hint actually picks the third strategy") {
    val p = plan("join_shuffle_hash")
    assert(p.contains("ShuffledHashJoin"), p.take(1500))
  }

  test("Q16: NOT IN plans as a null-aware anti join, not a nested loop") {
    val p = plan("sql_api_q16")
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("Q17: correlated scalar aggs decorrelate to combinable per-key aggregates, no per-row probe") {
    val p = plan("sql_api_q17")
    // both correlated scalar subqueries must plan as per-partkey aggregates
    // (map-side partials) joined back on the correlation key — a regression
    // to per-outer-row subquery execution would surface as a nested loop
    assert(p.contains("partial_count") && p.contains("partial_sum"), p.take(1500))
    assert(p.contains("hashpartitioning(l_partkey"), "decorrelated agg lost its key partitioning")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"correlated scalar subquery fell back to a nested-loop probe:\n${p.take(1500)}")
  }

  test("Q2: correlated min over a 4-way join decorrelates; region filter pushes to both scans") {
    val p = plan("sql_api_q2")
    // the correlated min() must hoist to a per-partkey aggregate OVER the
    // joined subquery (partial_min partials, l_partkey-keyed) — a per-
    // outer-row re-execution of the 4-way join would be a nested loop
    assert(p.contains("partial_min(l_extendedprice"), p.take(1500))
    assert(p.contains("hashpartitioning(l_partkey") || p.contains("BroadcastHashJoin [l_partkey"),
      "decorrelated min lost its correlation-key join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"correlated join subquery fell back to a nested loop:\n${p.take(1500)}")
    // the region parameter must prune BOTH region scans (outer + subquery)
    assert("EqualTo\\(r_name,AFRICA\\)".r.findAllIn(p).size >= 2,
      "r_name filter not pushed to both region scans")
    assert(p.contains("LessThanOrEqual(p_size,10)"), "p_size filter not pushed")
  }

  test("Q19: OR join predicate keeps the equi key; CNF filters push to both scans") {
    val p = plan("sql_api_q19")
    // the common p_partkey = l_partkey conjunct must be EXTRACTED as the
    // hash-join key (naively the disjunction makes the whole predicate
    // non-equi and the join a nested loop), with the full OR as residual
    assert(p.contains("BroadcastHashJoin [l_partkey"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"disjunctive join predicate fell back to a nested loop:\n${p.take(1500)}")
    // CNF distribution must derive each side's implied disjunction and push
    // it into the parquet scan — both scans carry an Or(...) pushed filter
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or("),
      "lineitem scan lost the derived l_quantity OR-filter")
    assert(p.contains("EqualTo(p_brand") && p.contains("PushedFilters: [IsNotNull(p_size)"),
      "part scan lost the derived brand/size OR-filter")
  }

  test("Q20: stacked semi-joins — part-name semi prunes BEFORE the per-suppkey aggregate") {
    val p = plan("sql_api_q20")
    // two LeftSemi joins: part-list into lineitem, agg result into supplier
    assert("LeftSemi".r.findAllIn(p).size >= 2, p.take(1500))
    // pruning order is the 100 TB-critical property: the partkey semi join
    // must sit UNDER the partial aggregate, not above it
    val semiIdx = p.indexOf("BroadcastHashJoin [l_partkey")
    val aggIdx = p.indexOf("partial_sum(cast(l_quantity")
    assert(semiIdx > aggIdx && aggIdx >= 0,
      "part-name semi join did not prune lineitem before the aggregate")
    assert(p.contains("StringStartsWith(p_name,red)"), "part-name filter not pushed")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate slice not pushed")
  }

  test("rank_rrf_fusion: both rankings are TakeOrdered top-50; fusion joins two bounded sides") {
    val p = plan("rank_rrf_fusion")
    // each ranking side must fuse orderBy.limit(50) into TakeOrdered —
    // a global Sort feeding the rank window would be the scale hazard
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(2000))
    // the two rank-assignment windows exist but their inputs are the
    // LIMIT-50 outputs (allowlisted + count-bounded in PlanAuditSpec)
    assert(p.contains("row_number()"), p.take(2000))
  }

  test("Q15: max() plans as an independent 1-row subquery; view sides stay combinable aggs") {
    val p = plan("sql_api_q15")
    assert(p.contains("Subquery"), "scalar max did not plan as a subquery")
    assert(p.contains("partial_sum"), "revenue agg lost map-side combine")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "quarter slice not pushed to the scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("shard_balance_tokens: all-data window is bucket-partitioned; offsets broadcast back") {
    val p = plan("shard_balance_tokens")
    // the doc-level prefix window must carry the bucket partition key —
    // asserting on the windowspecdefinition's partition column (not just
    // the window function) so a regression to an unpartitioned doc-level
    // window cannot slip past as a substring match; the only unpartitioned
    // window (the ≤32-row bucket-totals level) is separately allowlisted
    // and count-bounded in PlanAuditSpec
    assert(p.contains("Window [sum(n_tok"), p.take(2000))
    assert(p.contains("windowspecdefinition(bucket"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("Tables.spread: widens an under-partitioned scan, no-op on a wide one") {
    // The 100 TB posture claim: spread only exists for the small-file case.
    // Under-partitioned input (the local one-row-group scan) must come out
    // at defaultParallelism; an input already at/above it must be returned
    // UNCHANGED — same plan object, no Exchange added — so a production
    // scan never pays a repartition.
    val narrow = Tables.t(spark, sf, "documents")
    val spreadN = Tables.spread(spark, narrow)
    assert(narrow.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture assumption broken: local scan is no longer under-partitioned")
    assert(spreadN.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val wide = narrow.repartition(spark.sparkContext.defaultParallelism)
    assert(Tables.spread(spark, wide) eq wide,
      "spread must be identity on an input at or above defaultParallelism")
  }

  test("dedup_incremental_minhash: band join is a hash equi-join; small sides broadcast; no cartesian") {
    val p = plan("dedup_incremental_minhash")
    // the batch-bands ⋈ index-bands candidate join must plan as a HASH
    // equi-join on (band, s1, s2) — a nested-loop here would re-pair the
    // corpus against itself at scale
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no hash equi-join found")
  }

  test("sim_mrl_rerank: coarse stage scans ONLY the staged 16-dim prefix table") {
    // The funnel's IO win must be physical, not semantic. (a) Structurally, every leaf under the coarse top-20
    // window (the data-sized pass) is the staged prefix relation — the
    // wide embeddings.parquet feeds only the bounded rerank join.
    // (b) The prefix scan's ReadSchema carries emb16, never the 64-dim
    // column. (c) The staged file is measurably narrower than the base
    // table (the 100 TB coarse-scan bytes ratio; recorded in PLANS.md).
    val df = SparkEntry.queries("sim_mrl_rerank")(spark, sf)
    df.collect() // ensure staging ran
    val lp = df.queryExecution.optimizedPlan
    val coarse = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.orderSpec.exists(_.child.references.exists(_.name == "sim_coarse")) => w
    }
    assert(coarse.nonEmpty, "coarse top-20 window not found in optimized plan")
    // a leaf relation's schema identifies it: the staged prefix table IS
    // (vec_id, emb16); the wide base table would surface `embedding`
    val leaves = coarse.head.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(l =>
      l.output.exists(_.name == "emb16") && !l.output.exists(_.name == "embedding")),
      s"coarse subtree reads a non-prefix relation:\n${leaves.mkString("\n")}")
    val phys = df.queryExecution.executedPlan.toString
    val prefixScan = phys.linesIterator.find(l =>
      l.contains("graft_mrl_prefix") && l.contains("ReadSchema"))
    assert(prefixScan.exists(l =>
      l.contains("emb16") && !l.contains("embedding")), prefixScan.toString)
    def dirBytes(p: java.io.File): Long =
      if (p.isFile) p.length
      else Option(p.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    val pfxBytes = dirBytes(new java.io.File(s"${Tables.stagingDir(llm.Llm.MrlPrefix, sf)}/data"))
    val baseBytes = dirBytes(new java.io.File(s"$sf/embeddings.parquet"))
    assert(pfxBytes > 0 && baseBytes > 0)
    assert(pfxBytes * 2 < baseBytes,
      s"staged prefix not materially narrower: $pfxBytes vs $baseBytes bytes")
  }

  test("per-query top-k keys: each top-k step keeps a Partial WindowGroupLimit below its exchange") {
    // (key, the score its step ranks by): the Partial limit keeps k rows
    // per query in every partition before the shuffle, and the Final one
    // above the exchange merges them (llm.Vectors.topK)
    val steps = Seq(
      "sim_cosine_topk" -> "sim", "sim_ann_lsh" -> "sim", "sim_topk_int8" -> "score",
      "knn_label_vote" -> "sim", "sim_mrl_rerank" -> "sim_coarse",
      "sim_mrl_rerank" -> "sim_full", "sim_ann_ivf" -> "sim")
    def limits(p: SparkPlan, mode: WindowGroupLimitMode, score: String): Seq[SparkPlan] =
      nodes(p).collect {
        case w: WindowGroupLimitExec if w.mode == mode &&
          w.orderSpec.headOption.exists(_.child.references.exists(_.name == score)) => w
      }
    val plans = steps.map(_._1).distinct
      .map(k => k -> SparkEntry.queries(k)(spark, sf).queryExecution.executedPlan).toMap
    val missing = steps.filterNot { case (key, score) =>
      limits(plans(key), FinalLimit, score).exists(f => nodes(f).exists {
        case e: ShuffleExchangeExec => limits(e, PartialLimit, score).nonEmpty
        case _ => false
      })
    }
    assert(missing.isEmpty, s"top-k steps without a Partial limit below their exchange: $missing")
  }
}
