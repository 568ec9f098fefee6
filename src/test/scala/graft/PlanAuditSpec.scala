package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{ScalaAggregator, ScalaUDAF}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.scalatest.funsuite.AnyFunSuite

/** Whole-surface plan audit: no operator may *accidentally* plan a
  * Cartesian product, a nested-loop join, a single-partition window, or an
  * interpreted Scala UDF/UDAF — the shapes that stop scaling (or drop out
  * of codegen) first. Keys where the shape is the documented intent
  * (explicit cross join; non-equi band/interval predicates; a provably-tiny
  * window input; the declared UDF/UDAF showcase surface; opaque sketch
  * kernels with no Catalyst equivalent) are allowlisted, and every
  * allowlist is self-pruning: an entry whose plan no longer contains the
  * shape fails the suite so stale entries can't mask future regressions.
  *
  * The same sweep checks session hygiene: building and planning a key
  * leaves the session's temp views and conf as they were.
  *
  * Streaming keys are excluded: their QueryDef.run executes the stream and
  * returns a collected result table, so the interesting plan is the
  * streaming one (covered by StreamSpec behavior tests), not the result's.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf
  /** Window nodes whose partition spec is EMPTY — Spark moves the whole
    * input to one partition for these ("No Partition Defined for Window"),
    * the first shape to die at scale. Tree walk instead of string parse:
    * the printed form doesn't distinguish an empty partition spec reliably,
    * and with AQE on, the root is an AdaptiveSparkPlanExec LEAF whose inner
    * plan `collect` never visits.
    */
  private def globalWindows(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => globalWindows(a.inputPlan)
    case w: WindowExecBase if w.partitionSpec.isEmpty =>
      w.nodeName +: w.children.flatMap(globalWindows)
    case other => other.children.flatMap(globalWindows)
  }

  /** Interpreted Scala function nodes anywhere in the plan, including
    * inside subquery plans: ScalaUDF (black-box row-at-a-time closure,
    * breaks codegen + filter/pushdown reasoning), ScalaAggregator/ScalaUDAF
    * (typed/imperative agg surface). These are fine where declared — they
    * ARE part of the operator inventory — but a builtin-expressible
    * operator silently regressing to a UDF is a perf bug.
    */
  private def scalaFuncNodes(p: SparkPlan): Seq[String] = {
    def walk(sp: SparkPlan): Seq[String] = sp match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case other =>
        other.expressions.flatMap(_.collect {
          case _: ScalaUDF => "ScalaUDF"
          case _: ScalaAggregator[_, _, _] => "ScalaAggregator"
          case _: ScalaUDAF => "ScalaUDAF"
        }) ++ other.subqueries.flatMap(walk) ++ other.children.flatMap(walk)
    }
    walk(p).distinct
  }

  // The allowlists must contain ONLY keys whose executed plan contains the
  // shape TODAY (a stale entry would mask a future regression). D8/D9/D10
  // plan as explode+equi / equi+residual joins, and nothing plans a true
  // CartesianProduct (D7's explicit cross join broadcasts its tiny side,
  // so it executes as BNLJ-cross).
  private val cartesianOk = Set.empty[String]
  private val bnljOk = Set(
    // D7 — explicit cross join by definition; the 5-row side broadcasts
    "join_cross",
    // brute-force similarity baselines: the broadcast side is the FIXED
    // 5-row query set, so candidate×query NLJ is the intended plan — every
    // candidate partition streams once past an O(1) broadcast table
    // (sim_mrl_rerank's COARSE stage shares the shape; its expensive
    // full-dim rerank then touches only 20 rows per query)
    "sim_cosine_topk", "knn_label_vote", "sim_topk_int8", "sim_mrl_rerank",
    // staged-bound oracle join: 1-row staged merged-HLL estimate ×
    // 1-row exact-count aggregate — a declared 1×1 cross join
    "agg_sketch_merge")
  // key → max allowed unpartitioned-window count. Bounded at EXACTLY the
  // count the design calls for (one tiny second-level scan each): a second
  // global window appearing in either plan would ride in unnoticed if the
  // allowlist were a plain key set.
  private val globalWindowOk = Map(
    // skyline_pareto's boundary carry: the window input is the per-block
    // Pareto frontier meet — ≤ 8 rows by construction (one row per block),
    // so the single partition holds a handful of rows at any corpus size
    "skyline_pareto" -> 1,
    // shard_balance_tokens' second scan level: the prefix over per-bucket
    // totals — ≤ 32 rows by construction (one per doc_id-range bucket),
    // the tiny top of the two-level distributed prefix sum; the all-data
    // prefix runs bucket-partitioned (asserted on the partition key in
    // PlanSpec)
    "shard_balance_tokens" -> 1,
    // rank_rrf_fusion's two rank-assignment windows: each window's input
    // is the TakeOrdered top-50 of its ranking side — bounded by the
    // LIMIT 50 directly beneath it at any corpus size
    "rank_rrf_fusion" -> 2)
  // key → the Scala function surface its plan is DECLARED to carry.
  private val scalaFuncOk: Map[String, Set[String]] = Map(
    // §2.K — the UDF/UDAF/typed showcase keys: the registered-UDF path,
    // the typed Aggregator path, and the imperative sketch path are the
    // operator surface under test, not an accident
    "udf_scalar_haversine" -> Set("ScalaUDF"),
    "udaf_typed_geomean" -> Set("ScalaAggregator"),
    "udaf_imperative_minhash" -> Set("ScalaAggregator"),
    // (typed_dataset_agg's Aggregator runs through the typed
    // KeyValueGroupedDataset path, which plans object operators rather
    // than a ScalaAggregator expression — it carries no node this sweep
    // tracks, so it needs no entry)
    // bounded-state sketch aggregations with no Catalyst equivalent: a
    // bottom-k KMV sketch and a space-saving frequency map as typed
    // Aggregators (mergeable partial state is the point of the operator)
    "agg_quantile_merge" -> Set("ScalaAggregator"),
    "agg_freq_topk" -> Set("ScalaAggregator"))
    // Not listed, because their plans carry no such node: the bloom probes
    // of dedup_incremental_bloom and graph_triangle_count run through
    // Catalyst's codegen'd BloomFilterMightContain (asserted in PlanSpec);
    // dedup_simhash's bit-vote kernel runs inside the done-marker staging
    // write, and dedup_minhash_near's Jaccard verify inside the eagerly
    // checkpointed minhash state build, so both audited query plans are
    // pure builtins (OpsSpec's brute-force equivalence test pins the
    // verify kernel); sim_ann_ivf's centroid probe is builtin expressions
    // over the inlined centroid matrix.

  /** The session state a key must leave as it found it: its temp-view
    * names and its conf.
    */
  private def sessionState(): (Set[String], Map[String, String]) =
    (spark.sessionState.catalog.getTempViewNames().toSet, spark.conf.getAll)

  /** Per key: (key, executed plan, global windows, Scala function nodes,
    * what the session's temp views and conf differ by after the key was
    * built and planned).
    */
  private lazy val audited: Seq[(String, String, Seq[String], Seq[String], Seq[String])] = {
    val skip = (k: String) => k.startsWith("stream_") ||
      k == "opt_annotation_rewrite" || // writes its annotated table while it plans
      k == "sink_partitioned_write" || k == "sink_parquet_roundtrip" ||
      k == "join_bucketed_colocated" // saveAsTable side effects; plan asserted in PlanSpec
    SparkEntry.queries.keys.toSeq.sorted.filterNot(skip).map { k =>
      val (views, confs) = sessionState()
      val qe =
        try SparkEntry.queries(k)(spark, sf).queryExecution
        catch { case e: Throwable => fail(s"$k failed to plan: ${e.getMessage}") }
      val plan = qe.executedPlan
      val (viewsAfter, confsAfter) = sessionState()
      val leaks = (viewsAfter -- views).toSeq.sorted.map(v => s"temp view $v") ++
        (views -- viewsAfter).toSeq.sorted.map(v => s"dropped temp view $v") ++
        (confs.keySet ++ confsAfter.keySet).filter(c => confs.get(c) != confsAfter.get(c)).toSeq.sorted
          .map(c => s"conf $c: ${confs.getOrElse(c, "<unset>")} -> ${confsAfter.getOrElse(c, "<unset>")}")
      (k, plan.toString, globalWindows(plan), scalaFuncNodes(plan), leaks)
    }
  }

  test("every key leaves the session's temp views and conf as it found them") {
    val leaks = audited.flatMap { case (k, _, _, _, l) => l.map(x => s"$k: $x") }
    assert(leaks.isEmpty, s"\nsession state left behind:\n${leaks.mkString("\n")}")
  }

  test("no accidental CartesianProduct, BroadcastNestedLoopJoin, or global window anywhere") {
    val offenders = audited.flatMap { case (k, plan, gw, _, _) =>
      (if (plan.contains("CartesianProduct") && !cartesianOk(k)) Seq(s"$k: CartesianProduct") else Nil) ++
        (if (plan.contains("BroadcastNestedLoopJoin") && !bnljOk(k)) Seq(s"$k: BroadcastNestedLoopJoin") else Nil) ++
        (if (gw.size > globalWindowOk.getOrElse(k, 0))
          Seq(s"$k: ${gw.size} single-partition ${gw.mkString(",")} (allowed ${globalWindowOk.getOrElse(k, 0)})")
        else Nil)
    }
    assert(offenders.isEmpty, s"\nunplanned scale hazards:\n${offenders.mkString("\n")}")
    // the allowlist is self-pruning: an entry whose plan no longer contains
    // the shape is stale and would mask a future regression — fail it out
    val byKey = audited.map(p => p._1 -> p._2).toMap
    val gwByKey = audited.map(p => p._1 -> p._3).toMap
    val stale =
      cartesianOk.filter(k => byKey.get(k).exists(p => !p.contains("CartesianProduct"))).map(k => s"$k: cartesianOk") ++
        bnljOk.filter(k => byKey.get(k).exists(p => !p.contains("BroadcastNestedLoopJoin"))).map(k => s"$k: bnljOk") ++
        globalWindowOk.keys.filter(k => gwByKey.get(k).exists(_.isEmpty)).map(k => s"$k: globalWindowOk")
    assert(stale.isEmpty, s"\nstale allowlist entries (plan no longer has the shape):\n${stale.mkString("\n")}")
  }

  test("no Scala UDF/UDAF outside the declared surface; no Python eval anywhere") {
    val offenders = audited.flatMap { case (k, plan, _, fns, _) =>
      val extra = fns.toSet -- scalaFuncOk.getOrElse(k, Set.empty)
      (if (extra.nonEmpty) Seq(s"$k: ${extra.toSeq.sorted.mkString(",")}") else Nil) ++
        (if (plan.contains("BatchEvalPython") || plan.contains("ArrowEvalPython"))
          Seq(s"$k: PythonUDF") else Nil)
    }
    assert(offenders.isEmpty, s"\nundeclared interpreted-function nodes:\n${offenders.mkString("\n")}")
    val fnsByKey = audited.map(p => p._1 -> p._4.toSet).toMap
    val stale = scalaFuncOk.flatMap { case (k, declared) =>
      val present = fnsByKey.getOrElse(k, Set.empty)
      val gone = declared -- present
      if (gone.nonEmpty) Seq(s"$k: ${gone.toSeq.sorted.mkString(",")}") else Nil
    }
    assert(stale.isEmpty, s"\nstale scalaFuncOk entries (plan no longer has the node):\n${stale.mkString("\n")}")
  }
}
