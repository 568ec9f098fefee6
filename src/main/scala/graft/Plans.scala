package graft

import java.nio.file.{Files, Paths}

/** The plan dumper, under the bench's [[Session]] posture.
  *   - `runMain graft.Plans <sfDir>` writes the formatted physical plans of
  *     the headline queries to PLANS.md: the evidence for the plan-shape
  *     claims (pushdown, pruning, broadcast, top-k fusion, zero-shuffle
  *     bucketing, annotation rewrite).
  *   - `runMain graft.Plans <sfDir> <key>…` prints each named key's
  *     executed plan (post-AQE, after one collect), whole: a wide object
  *     (de)serializer or join tree would otherwise push the scans out. It
  *     is the fast loop for checking a plan shape before pinning it in
  *     PlanSpec, and the dataset dir picks the scale, since AQE decisions
  *     depend on size.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length > 1) args.tail.foreach { k =>
      println(s"======== $k ========")
      val df = SparkEntry.queries(k)(spark, sfDir)
      df.collect() // materialize so AQE finalizes every stage
      println(df.queryExecution.executedPlan.toString)
    }
    else writePlansMd(spark, sfDir)
    spark.stop()
  }

  private def writePlansMd(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    val keys = Seq(
      "filter_predicate", "scan_projection_pushdown", "join_broadcast_hash",
      "join_shuffle_sortmerge", "agg_hash_group", "topk_order_limit",
      "join_bucketed_colocated", "opt_annotation_rewrite", "sql_api_q3",
      "decontaminate_ngram", "doc_chunk_overlap", "embed_label_centroid",
      "dedup_corpus_filter", "agg_bitmap_distinct", "skyline_pareto",
      "graph_triangle_count", "profile_table_stats", "snapshot_diff",
      "path_topk_journeys", "rank_bm25_topk", "attribution_last_touch",
      "agg_weighted_median", "er_blocked_levenshtein", "sql_api_q21",
      "join_lateral_topn", "scan_partition_prune", "sql_api_q13",
      "scan_metadata_lineage", "scan_parquet_bloom_lookup",
      "sql_api_parameterized", "shard_balance_tokens", "sql_api_q16",
      "dedup_substring_exact", "quality_perplexity_proxy",
      "sql_api_q17", "sql_api_q19", "sql_api_q20", "sql_api_q2",
      "rank_rrf_fusion", "fhir_ucum_grammar_canonical")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for headline queries\n\n")
    sb.append(s"Generated by `runMain graft.Plans $sfDir` (Spark " +
      s"${spark.version}, AQE on). What to look for is noted per plan;\n" +
      "PlanSpec asserts these shapes in CI.\n")
    val notes = Map(
      "filter_predicate" -> "PushedFilters reach the parquet scan",
      "scan_projection_pushdown" -> "ReadSchema = 3 of 39 leaves (nested pruning)",
      "join_broadcast_hash" -> "dimension side broadcast",
      "join_shuffle_sortmerge" -> "fact-fact SMJ with map-side partial agg",
      "agg_hash_group" -> "partial+final HashAggregate, one exchange",
      "topk_order_limit" -> "TakeOrderedAndProject (no global sort)",
      "join_bucketed_colocated" -> "zero Exchange below the join",
      "opt_annotation_rewrite" -> "filter on __birthDate_start, pushed",
      "sql_api_q3" -> "3-way join: broadcast dims, pushed date predicates",
      "decontaminate_ngram" -> "benchmark gram set broadcast; documents never shuffle",
      "doc_chunk_overlap" -> "single Generate (explode), no exchange before the presentation sort",
      "embed_label_centroid" -> "explode → partial agg → exchange of (label,pos) partials; vectors never shuffle",
      "dedup_corpus_filter" -> "broadcast left-anti against the tiny non-representative set",
      "agg_bitmap_distinct" -> "partial_bit_or before the exchange: raw ids never shuffle",
      "skyline_pareto" -> "distributed prefix-min: per-pid window + broadcast boundary carry, no quadratic join",
      "graph_triangle_count" -> "degree-oriented wedges; left-semi closure against broadcast edges",
      "profile_table_stats" -> "4 single-column scans, Expand-free; exchange carries distinct values only",
      "snapshot_diff" -> "one key-partitioned full outer join, each version scanned once",
      "path_topk_journeys" -> "per-user window → combinable path agg → TakeOrdered top-10",
      "rank_bm25_topk" -> "in-row HOF tf counting (no Generate), 1-row stats broadcast, TakeOrdered",
      "attribution_last_touch" -> "single scan, one user-keyed window, no join, combinable revenue agg",
      "agg_weighted_median" -> "(group,value) rollup combines map-side before the cumulative window",
      "er_blocked_levenshtein" -> "vocabulary-cardinality broadcast self-join on the blocking key",
      "sql_api_q21" -> "EXISTS/NOT EXISTS decorrelated to key-partitioned semi + anti joins",
      "join_lateral_topn" -> "LATERAL ORDER BY..LIMIT decorrelated to a windowed top-n join",
      "scan_partition_prune" -> "year filter lands in PartitionFilters (directory pruning)",
      "sql_api_q13" -> "outer join keeps zero-order bucket; first agg reuses the join's c_custkey partitioning",
      "scan_metadata_lineage" -> "_metadata lineage columns generated by the scan; no extra exchange before the agg",
      "scan_parquet_bloom_lookup" -> "IN-list pushed to the scan: PushedFilters In(l_orderkey,...) enables row-group bloom skip",
      "sql_api_parameterized" -> ":param markers bound as typed literals — plan identical to the inlined query",
      "shard_balance_tokens" -> "two-level global prefix sum: bucket-partitioned window + 32-row offsets broadcast back, no all-data window",
      "sql_api_q16" -> "NOT IN planned as null-aware broadcast anti join; distinct agg combines map-side",
      "dedup_substring_exact" -> "strided gram explode; gram-keyed agg + semi join; doc-keyed zero-fill — never all-pairs",
      "quality_perplexity_proxy" -> "tiny bigram model broadcast to the scoring join; integer micro-unit math",
      "sql_api_q17" -> "correlated scalar aggs decorrelated to per-partkey combinable aggregates; < cut rides the join as a residual",
      "sql_api_q19" -> "OR join predicate: equi key extracted, CNF-derived Or(...) filters pushed into BOTH scans",
      "sql_api_q20" -> "stacked semi-joins: part-name semi prunes lineitem BELOW the per-suppkey aggregate",
      "sql_api_q2" -> "correlated min over a 4-way join hoisted to a partkey-keyed aggregate; equality residual keeps every argmin witness",
      "rank_rrf_fusion" -> "two TakeOrdered top-50 rankings fused by a full-outer join of bounded sides — O(k) at any corpus size",
      "fhir_ucum_grammar_canonical" -> "parser-generated UCUM vocabulary broadcast; one double multiply-add, no aggregation")
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      sb.append(s"\n## $k — ${notes(k)}\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("[plans] wrote PLANS.md")
  }
}
