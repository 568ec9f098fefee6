package graft.llm

import graft.{Memo, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond SURVEY §2.L's dedup/similarity
  * core: deterministic dataset splitting, PII redaction, context chunking,
  * and benchmark decontamination. All four are the standard curation steps
  * between "raw crawl" and "training shards" in an LLM data pipeline
  * (driver mandate, BASELINE.json:6).
  *
  * Scale posture (100 TB): each is a single narrow pass (split/redact/chunk)
  * or a candidate-generation join on small keys (decontaminate: shuffles
  * 5-gram strings, not documents), so all partition cleanly. Splitting is
  * hash-based, not random — reproducible across runs, engines, and
  * re-partitioning, which sampleBy(seed) is not.
  */
object Pipeline {

  /** Winnowing gram selection (Schleimer–Wilkerson–Aiken local fingerprinting)
    * over `doc_id`/`text` rows: hash every 40-char gram — md5, whose
    * lowercase-hex text is bit-identical in Spark and DuckDB, so the
    * oracle recomputes the selection INDEPENDENTLY from the base table —
    * then in every window of 10 consecutive grams select the
    * (leftmost-)minimum-hash gram.
    * CONTENT-DEFINED sampling — identical text selects identical grams no
    * matter where it sits in the document — with the winnowing guarantee:
    * any cross-document verbatim run of ≥ w + s − 1 = 49 chars contains 10
    * consecutive complete grams in both copies, that window's argmin is the
    * same gram string in both, so the run is always detected. (Contrast the
    * positional-stride kernel of dedup_substring_exact, whose 49-char bound
    * additionally requires the two copies to agree on start offset mod 10.)
    * graft-visible so the property spec can drive it over planted synthetic
    * pairs at arbitrary alignments.
    */
  private[graft] def winnowGrams(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // The short-doc guard is a CHEAP length predicate, deliberately BEFORE
    // the hash-array projection: a `where(size(hs) > 0)` after it looked
    // equivalent, but predicate pushdown rewrote that filter in terms of
    // the scan columns and pushed the ENTIRE interpreted hash transform
    // below the spread-repartition into the (often single-task) scan stage
    // — measured as one straggler task carrying the whole sf10 staging
    // pass. length(text) >= 40 also makes the sequence() bounds valid
    // without a CASE guard (Spark's sequence(1, n) is DESCENDING for
    // n < 1, never empty).
    df.where(length(col("text")) >= 40)
      .select(col("doc_id"), col("text"), expr(
        "transform(sequence(1, length(text) - 39), i -> md5(substring(text, i, 40)))").as("hs"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, greatest(size(hs) - 9, 1)), " +
          "j -> substring(text, CAST(j - 1 + array_position(slice(hs, j, 10), array_min(slice(hs, j, 10))) AS INT), 40)))")).as("g"))
      .distinct()

  /** Positional stride-10 gram sampling — the dedup_substring_exact kernel,
    * exposed alongside [[winnowGrams]] so the spec can demonstrate the two
    * kernels' detection bounds on the same planted pairs.
    */
  private[graft] def strideGrams(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(col("doc_id"), explode(expr(
        "CASE WHEN length(text) >= 40 THEN " +
          "transform(sequence(1, length(text) - 39, 10), i -> substring(text, i, 40)) " +
          "ELSE array() END")).as("g"))
      .distinct()

  /** The staged winnowed fingerprint table — a Spark-side PERFORMANCE
    * artifact only (the selection pass runs once per dataset fingerprint;
    * banding re-runs per invocation over the staged rows). The ORACLE does
    * not read it: the md5 minimizer makes the whole selection recomputable
    * in DuckDB, so the oracle rebuilds the winnow from the base table
    * independently. The `md5winnow` kernel tag names the md5 minimizer:
    * grams selected by any other minimizer hash must re-stage on unchanged
    * data.
    */
  private def winnowFps(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.stagedTable(s, "graft_winnow_fp", d, "md5winnow|" + Tables.fingerprint(d, "documents")) {
      winnowGrams(Tables.spread(s, Tables.t(s, d, "documents").select("doc_id", "text")))
    }

  /** Deterministic split assignment: first hex char of md5(doc_id) —
    * '0'..'b' → train (12/16), 'c'..'d' → val (2/16), 'e'..'f' → test.
    * md5 of the decimal string is identical in Spark and DuckDB, so the
    * assignment (not just the proportions) is engine-portable.
    */
  private val splitCol = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    when(h < "c", "train").when(h < "e", "val").otherwise("test")
  }

  val defs: Seq[QueryDef] = Seq(
    // Deterministic train/val/test split: hash-assigned, with per-split
    // corpus stats (doc count, total chars, languages covered).
    QueryDef(
      "split_train_test",
      Some(
        "SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'c' THEN 'train' " +
          "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'e' THEN 'val' ELSE 'test' END AS split, " +
          "CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
          "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs " +
          "FROM documents GROUP BY 1 ORDER BY split"),
      (s, d) =>
        Tables.t(s, d, "documents")
          .withColumn("split", splitCol)
          .groupBy("split")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("lang")).as("n_langs"))
          .orderBy("split")),

    // PII redaction: regex masking of emails and phone-like digit runs.
    // The synthetic corpus carries no PII, so a deterministic PII suffix is
    // appended first — the redaction plumbing (two codegen'd regexp_replace
    // passes + a match counter) is what the operator demonstrates.
    QueryDef(
      "text_pii_redact",
      Some(
        "WITH synth AS (SELECT doc_id, text || ' contact user' || doc_id || " +
          "'@example.com or call 555-' || (doc_id*7)%10000 AS s FROM documents) " +
          "SELECT doc_id, regexp_replace(regexp_replace(s, '[a-z0-9]+@[a-z]+[.][a-z]+', '<EMAIL>', 'g'), " +
          "'[0-9]{3}-[0-9]+', '<PHONE>', 'g') AS redacted, " +
          "CAST(len(regexp_extract_all(s, '[a-z0-9]+@[a-z]+[.][a-z]+')) AS BIGINT) AS n_emails " +
          "FROM synth ORDER BY doc_id"),
      (s, d) => {
        // Sort-first (see text_repetition_filter): the three regex
        // passes run once, post-sort, at explicit width.
        val email = "[a-z0-9]+@[a-z]+[.][a-z]+"
        val phone = "[0-9]{3}-[0-9]+"
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .withColumn("s", concat(
            col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or call 555-"), pmod(col("doc_id") * 7, lit(10000))))
          .select(
            col("doc_id"),
            regexp_replace(regexp_replace(col("s"), email, "<EMAIL>"), phone, "<PHONE>").as("redacted"),
            size(expr(s"regexp_extract_all(s, '$email', 0)")).cast("long").as("n_emails"))
      }),

    // Context chunking: token windows of 16 with stride 8 (half-window
    // overlap); trailing fragments under half a window are dropped unless
    // they are the document's only chunk. One explode, no shuffle until the
    // final presentation sort.
    QueryDef(
      "doc_chunk_overlap",
      Some(
        "WITH w AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
          "c AS (SELECT doc_id, i AS start, list_slice(toks, i, i+15) AS chunk " +
          "FROM w, unnest(generate_series(1, len(toks), 8)) AS t(i)) " +
          "SELECT doc_id, CAST(start AS BIGINT) AS start, CAST(len(chunk) AS BIGINT) AS n_tokens, " +
          "array_to_string(chunk, ' ') AS chunk_text " +
          "FROM c WHERE start = 1 OR len(chunk) >= 8 ORDER BY doc_id, start"),
      (s, d) =>
        Tables.t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(expr("sequence(1, size(toks), 8)")).as("start"))
          .select(
            col("doc_id"),
            col("start").cast("long").as("start"),
            expr("slice(toks, start, 16)").as("chunk"))
          .where(col("start") === 1 || size(col("chunk")) >= 8)
          .select(
            col("doc_id"), col("start"),
            size(col("chunk")).cast("long").as("n_tokens"),
            concat_ws(" ", col("chunk")).as("chunk_text"))
          .orderBy("doc_id", "start")),

    // Benchmark decontamination: every non-benchmark document sharing ≥1
    // word-5-gram with the "benchmark" partition (doc_id % 50 = 0 stands in
    // for an eval set). Grams are deduplicated per side before the join, so
    // only distinct small strings shuffle — the candidate-generation shape
    // that survives 100 TB (documents never move).
    QueryDef(
      "decontaminate_ngram",
      Some(
        "WITH s AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]) AS sh " +
          "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 5), " +
          "g AS (SELECT doc_id, unnest(sh) AS gram FROM s), " +
          "b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0) " +
          "SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared " +
          "FROM g JOIN b USING (gram) WHERE g.doc_id % 50 != 0 " +
          "GROUP BY g.doc_id ORDER BY g.doc_id"),
      (s, d) => {
        // spread + pre-split: per-row gram HOF must not run single-task
        // (see corpus_ngram_topk)
        val grams = Tables.spread(s, Tables.t(s, d, "documents"))
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 5)
          .select(col("doc_id"), explode(expr(Llm.shinglesFromW)).as("gram"))
        val bench = grams.where(col("doc_id") % 50 === 0).select("gram").distinct()
        grams.where(col("doc_id") % 50 =!= 0)
          .join(broadcast(bench), "gram")
          .groupBy("doc_id")
          .agg(countDistinct(col("gram")).as("n_shared"))
          .orderBy("doc_id")
      }),

    // Stratified sampling: per-language keep rates (upsample rare
    // languages, downsample dominant ones) decided by a hash of the doc id
    // — reproducible across runs, engines, and repartitioning, unlike
    // sampleBy(seed), and a pure narrow pass at any scale. Rates are in
    // 1/16 steps via the first hex char of md5 (same trick as the split).
    QueryDef(
      "sample_stratified",
      Some(
        "SELECT doc_id, lang FROM documents WHERE " +
          "CASE WHEN lang = 'zh' THEN TRUE " +
          "WHEN lang = 'de' THEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < '8' " +
          "ELSE substr(md5(CAST(doc_id AS VARCHAR)),1,1) < '4' END " +
          "ORDER BY doc_id"),
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        Tables.t(s, d, "documents")
          .where(
            when(col("lang") === "zh", lit(true))
              .when(col("lang") === "de", h < "8")
              .otherwise(h < "4"))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      }),

    // Mixture-weighted sampling: hit a TARGET source mixture, not the
    // crawl's natural one — the data-mixture step of a training run. Each
    // source gets weight w∈1..4 (derived from its index so the weights are
    // data-independent), a keep budget of half the corpus is split across
    // sources by weight, and each source's keep rate (in 2^-20 units) is
    // budget_s/count_s capped at 1. Rows keep deterministically via a
    // multiplicative integer hash of doc_id — engine- and
    // partitioning-reproducible, all integer math. At 100 TB the rate table
    // is sources-cardinality (broadcast) and the keep pass is narrow.
    QueryDef(
      "sample_mixture_weighted",
      Some(
        "WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt, " +
          "CAST(substr(source, 4) AS INT) % 4 + 1 AS w FROM documents GROUP BY source), " +
          "r AS (SELECT source, cnt, least(1048576, " +
          "((((sum(cnt) OVER ()) // 2) * w) // (sum(w) OVER ())) * 1048576 // cnt) AS rate20 FROM c) " +
          "SELECT d.source, min(r.cnt) AS n_total, CAST(count(*) AS BIGINT) AS n_kept, " +
          "CAST(min(rate20) AS BIGINT) AS rate20 " +
          "FROM documents d JOIN r ON d.source = r.source " +
          "WHERE ((d.doc_id % 1048576) * 2654435761) % 1048576 < rate20 " +
          "GROUP BY d.source ORDER BY d.source"),
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        // corpus totals as a second aggregation LEVEL: one combinable agg
        // collapses the source rollup to TWO longs, which the driver
        // inlines as literals (bounded metadata, the agg_exact_percentile
        // class — a constant-key join back would constant-fold into a
        // BNLJ, and empty-partition windows over the rollup are the shape
        // the plan audit bans). Every distributed operator stays
        // partition-parallel; the rollup recomputes once for the totals
        // (checkpoint it at true scale).
        val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
          .withColumn("w", (substring(col("source"), 4, 10).cast("int") % 4 + 1).cast("long"))
        val t = counts.agg(sum(col("cnt")).as("total"), sum(col("w")).as("totw")).head()
        val (budget, totw) = (t.getLong(0) / 2, t.getLong(1))
        val rates = counts
          .withColumn("rate20",
            least(lit(1048576L), expr(s"((${budget}L * w) div ${totw}L) * 1048576 div cnt")))
          .select("source", "cnt", "rate20")
        docs.join(broadcast(rates), "source")
          // operand reduced mod the ring BEFORE the multiply (the
          // negative_sampling_pairs discipline): doc_id·M overflows BIGINT
          // once ids carry the rehearsal's rep·10⁹ offsets (~10¹⁰-scale ids
          // are the 100 TB norm), and (a·M) mod 2²⁰ ≡ ((a mod 2²⁰)·M) mod 2²⁰
          .where(pmod(pmod(col("doc_id"), lit(1048576L)) * lit(2654435761L),
            lit(1048576L)) < col("rate20"))
          .groupBy("source")
          .agg(min(col("cnt")).as("n_total"), count(lit(1)).as("n_kept"),
            min(col("rate20")).as("rate20"))
          .orderBy("source")
      }),

    // Temperature-scaled language resampling: the multilingual balancing
    // pass (XLM's α = 0.5) — target shares q_l ∝ n_l^α flatten the natural
    // language distribution so high-resource languages stop drowning the
    // tail. Downsample-only keep rates r_l = C·q_l/n_l with C pinned so the
    // rarest language keeps everything: at α = ½ that collapses to
    // r_l = √(n_min/n_l), which needs only division and sqrt — both IEEE
    // exactly-rounded, so the rates are bit-identical cross-engine (pow(x,
    // 0.3) would not be; this is why α = ½ and not T5's 0.3). Rates land in
    // 2^-20 integer units and rows keep via the mixture key's multiplicative
    // hash — engine- and partitioning-reproducible. At 100 TB the rate
    // table is lang-cardinality (broadcast) and the keep pass is narrow.
    QueryDef(
      "sample_temperature_lang",
      Some(
        "WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY lang), " +
          "r AS (SELECT lang, cnt, CAST(floor(1048576 * sqrt(CAST(min(cnt) OVER () AS DOUBLE) / cnt)) AS BIGINT) AS rate20 FROM c) " +
          "SELECT d.lang, min(r.cnt) AS n_total, CAST(count(*) AS BIGINT) AS n_kept, " +
          "CAST(min(rate20) AS BIGINT) AS rate20 " +
          "FROM documents d JOIN r ON d.lang = r.lang " +
          "WHERE ((d.doc_id % 1048576) * 2654435761) % 1048576 < rate20 " +
          "GROUP BY d.lang ORDER BY d.lang"),
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        // the rarest language's count is the normalizer: one combinable agg
        // collapsing to ONE long, driver-inlined as a literal (bounded
        // metadata — the sample_mixture_weighted discipline)
        val nMin = counts.agg(min(col("cnt"))).head().getLong(0)
        val rates = counts
          .withColumn("rate20",
            floor(lit(1048576d) * sqrt(lit(nMin.toDouble) / col("cnt"))).cast("long"))
          .select("lang", "cnt", "rate20")
        docs.join(broadcast(rates), "lang")
          // mod-first before the multiply (the sample_mixture_weighted
          // overflow discipline for rehearsal-offset ids)
          .where(pmod(pmod(col("doc_id"), lit(1048576L)) * lit(2654435761L),
            lit(1048576L)) < col("rate20"))
          .groupBy("lang")
          .agg(min(col("cnt")).as("n_total"), count(lit(1)).as("n_kept"),
            min(col("rate20")).as("rate20"))
          .orderBy("lang")
      }),

    // Sequence packing: concatenate documents (per language, in doc_id
    // order) into fixed 512-token training sequences — bin id = which
    // budget window the document's first token falls in. Deterministic
    // greedy packing as a pure window computation: partitions by lang, so
    // at 100 TB each language packs independently and in parallel; no
    // global order, no driver state. (Real packers also split oversize
    // docs — doc_chunk_overlap above is that half of the pipeline.)
    QueryDef(
      "pack_sequences",
      Some(
        // integer division spelled explicitly (// and div): CAST(double)
        // rounds in DuckDB but truncates in Spark
        "SELECT lang, doc_id, n_tok, CAST((cum - n_tok) // 512 AS BIGINT) AS bin FROM (" +
          "SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
          "sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER " +
          "(PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
          "FROM documents) ORDER BY lang, doc_id"),
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        Tables.t(s, d, "documents")
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .select(col("lang"), col("doc_id"), col("n_tok"),
            expr("(cum - n_tok) div 512").cast("long").as("bin"))
          .orderBy("lang", "doc_id")
      }),

    // URL canonicalization + dedup — the cheapest first pass of every crawl
    // pipeline: scheme/host case-folding, www. and default-port stripping,
    // tracking-parameter removal, trailing-slash-before-query normalization,
    // then group-by-canonical keeping the min doc_id. Synthetic messy URLs
    // are derived from doc_id so both engines build identical inputs; every
    // canonicalization rule is a shared-dialect regexp with NO backslashes
    // ([.]-style classes), so Spark's escape-processing string parser and
    // DuckDB's raw literals see byte-identical patterns. One narrow
    // projection + one combinable hash agg — at 100 TB this runs before
    // anything touches document bodies.
    QueryDef(
      "dedup_url_canonical",
      Some {
        val steps = urlCanonSteps("VARCHAR")
        s"WITH u0 AS (SELECT doc_id, ${steps.head} AS u FROM documents), " +
          steps.tail.zipWithIndex.map { case (e, i) =>
            s"u${i + 1} AS (SELECT doc_id, $e AS u FROM u$i)"
          }.mkString(", ") +
          s" SELECT u AS canonical_url, min(doc_id) AS keep_id, " +
          "CAST(count(*) AS BIGINT) AS n_docs " +
          s"FROM u${steps.size - 1} GROUP BY u ORDER BY canonical_url"
      },
      (s, d) => {
        val steps = urlCanonSteps("STRING")
        steps.tail
          .foldLeft(Tables.t(s, d, "documents")
            .selectExpr("doc_id", "source", s"${steps.head} AS u")) {
            (df, e) => df.selectExpr("doc_id", s"$e AS u")
          }
          .groupBy(col("u").as("canonical_url"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
          .orderBy("canonical_url")
      }),

    // Incremental corpus dedup — the daily-crawl shape: a NEW batch is
    // deduped against the EXISTING corpus (not against itself). The corpus
    // side publishes a distributed-built bloom filter over content
    // fingerprints; batch rows the bloom rejects are provably novel and
    // never shuffle at all, and only the (tiny) maybe-duplicate remainder
    // pays the exact fingerprint anti-join that makes the result
    // FP-independent. At 100 TB the bloom is the persisted artifact each
    // day's ingest loads — the anti-join side shrinks from the whole batch
    // to bloom-FPP × batch. Correctness never depends on the bloom: it
    // only routes rows between the free path and the exact path.
    QueryDef(
      "dedup_incremental_bloom",
      Some(
        "WITH f AS (SELECT doc_id, source, sha256(text) AS fp FROM documents), " +
          "corpus AS (SELECT fp FROM f WHERE doc_id % 10 < 8), " +
          "batch AS (SELECT doc_id, source, fp FROM f WHERE doc_id % 10 >= 8) " +
          "SELECT b.doc_id, b.source FROM batch b " +
          "WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp) " +
          "ORDER BY b.doc_id"),
      (s, d) => {
        val fp = Tables.t(s, d, "documents")
          .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("fp"))
        val corpus = fp.where(pmod(col("doc_id"), lit(10)) < 8).select("fp")
        val batch = fp.where(pmod(col("doc_id"), lit(10)) >= 8)
        // Distributed bloom build + CODEGEN probe (a scalar UDF probe would
        // deserialize per row in the hot filter). Build with Catalyst's BloomFilterAggregate over
        // xxhash64(fp) — executor-side partials, driver holds one ~90 KB
        // serialized filter — then probe with BloomFilterMightContain, the
        // same vectorizable expression InjectRuntimeFilter plants (proved
        // working in this build by join_runtime_bloom). The filter bits ride
        // the plan as a binary Literal exactly like a runtime-filter
        // subquery result; numBits 730000 ≈ 3% FPP at the 100k-item budget
        // the stat.bloomFilter call used before.
        locally {
          import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
          import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
          import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
          s.sessionState.functionRegistry.createOrReplaceTempFunction(
            "graft_bloom_build",
            exprs => new BloomFilterAggregate(
              new XxHash64(exprs), Literal(100000L), Literal(730000L)),
            "internal")
          val bloomBytes = corpus.selectExpr("graft_bloom_build(fp) AS bf")
            .head().getAs[Array[Byte]]("bf")
          val bloomLit = Literal(bloomBytes,
            org.apache.spark.sql.types.BinaryType)
          s.sessionState.functionRegistry.createOrReplaceTempFunction(
            "graft_bloom_probe",
            exprs => BloomFilterMightContain(bloomLit, new XxHash64(exprs)),
            "internal")
        }
        val provablyNew = batch.where(!expr("graft_bloom_probe(fp)"))
        val confirmed = batch.where(expr("graft_bloom_probe(fp)"))
          .join(corpus, Seq("fp"), "left_anti")
        provablyNew.unionByName(confirmed)
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      }),

    // Deterministic per-group reservoir: a FIXED number of docs per source
    // (the eval-set / spot-check draw), chosen by multiplicative-hash rank
    // so the sample is reproducible across runs, engines, and
    // re-partitioning — `ORDER BY rand()` is none of those. One window per
    // source key; at 100 TB each source samples independently in parallel
    // and nothing but the winners leaves the executor.
    QueryDef(
      "sample_reservoir_group",
      Some(
        "SELECT source, rn, doc_id, hkey FROM (" +
          "SELECT source, doc_id, CAST(hkey AS BIGINT) AS hkey, " +
          "CAST(row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) AS BIGINT) AS rn " +
          "FROM (SELECT source, doc_id, ((doc_id % 1048576) * 2654435761) % 1048576 AS hkey FROM documents)) " +
          "WHERE rn <= 20 ORDER BY source, rn"),
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("hkey"), col("doc_id"))
        Tables.t(s, d, "documents")
          // mod-first (see sample_mixture_weighted): raw doc_id·M overflows
          // BIGINT at rehearsal/production id magnitudes
          .withColumn("hkey",
            pmod(pmod(col("doc_id"), lit(1048576L)) * lit(2654435761L), lit(1048576L)))
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 20)
          .select(col("source"), col("rn"), col("doc_id"), col("hkey"))
          .orderBy("source", "rn")
      }),

    // Sub-document line-level dedup (the CCNet/RefinedWeb boilerplate pass):
    // documents are chunked into fixed 10-word pseudo-lines, any chunk that
    // appears in MORE THAN ONE document is boilerplate and is removed, and
    // the surviving text is reassembled per document (emitted as md5 so the
    // result row stays small). Whole-doc dedup cannot catch this — the
    // boilerplate hides inside otherwise-unique documents. Scale posture:
    // ONE scan, three key-partitioned exchanges, ZERO joins — "appears in
    // exactly one doc" is count(*) OVER (chunk) = count(*) OVER
    // (chunk, doc_id) (the second window reuses the first's clustering), so
    // the distinct-doc-frequency join of the naive form disappears, and the
    // per-doc totals + kept-only md5 collapse into one conditional agg.
    // The line-dedup shuffle is line-cardinality, never doc×doc; chunk
    // assembly sorts (pos, word) structs, never collection order
    // (partitioning-dependent).
    QueryDef(
      "dedup_line_level",
      Some(
        "WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
          "w2 AS (SELECT doc_id, unnest(ws) AS word, CAST(unnest(range(len(ws))) AS BIGINT) AS pos FROM words), " +
          "chunks AS (SELECT doc_id, CAST(pos // 10 AS BIGINT) AS chunk_id, " +
          "string_agg(word, ' ' ORDER BY pos) AS chunk FROM w2 GROUP BY doc_id, pos // 10), " +
          "marked AS (SELECT doc_id, chunk_id, chunk, " +
          "count(*) OVER (PARTITION BY chunk) = count(*) OVER (PARTITION BY chunk, doc_id) AS keep FROM chunks) " +
          "SELECT doc_id, CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept, " +
          "CAST(count(*) - count(*) FILTER (WHERE keep) AS BIGINT) AS n_dropped, " +
          "CASE WHEN count(*) FILTER (WHERE keep) = 0 THEN '' " +
          "ELSE md5(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY chunk_id)) END AS clean_md5 " +
          "FROM marked GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        val wChunk = org.apache.spark.sql.expressions.Window.partitionBy("chunk")
        val wChunkDoc = org.apache.spark.sql.expressions.Window.partitionBy("chunk", "doc_id")
        Tables.t(s, d, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
          .groupBy(col("doc_id"), expr("pos div 10").as("chunk_id"))
          .agg(concat_ws(" ",
            expr("transform(array_sort(collect_list(struct(pos, word))), x -> x.word)"))
            .as("chunk"))
          .withColumn("keep",
            count(lit(1)).over(wChunk) === count(lit(1)).over(wChunkDoc))
          .groupBy("doc_id")
          .agg(
            expr("count_if(keep)").as("n_kept"),
            (count(lit(1)) - expr("count_if(keep)")).as("n_dropped"),
            when(expr("count_if(keep)") === 0, "")
              .otherwise(md5(concat_ws(" ",
                expr("transform(array_sort(collect_list(CASE WHEN keep THEN struct(chunk_id, chunk) END)), x -> x.chunk)"))))
              .as("clean_md5"))
          .orderBy("doc_id")
      }),

    // Entity resolution with blocking: near-duplicate entity names matched
    // by edit distance — but NEVER all-pairs. Rows first collapse to the
    // distinct-name vocabulary (with occurrence counts; map-side-combinable
    // — at 100 TB names are many orders of magnitude fewer than rows), the
    // blocking key (last name token) turns the vocabulary self-join into a
    // per-block equi-join, and only blocked candidates pay the codegen'd
    // levenshtein verify. The vocabulary side broadcasts, so nothing
    // shuffles at all. The canonical record-linkage shape: block, then
    // verify — identical to the MinHash band→verify discipline, with edit
    // distance as the verifier.
    QueryDef(
      "er_blocked_levenshtein",
      Some(
        // [-1] = LAST token, matching the Spark side's substring_index(…,-1):
        // the two sides must block on the same token or they silently diverge
        // the day p_name grows a third token.
        "WITH names AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts, " +
          "string_split(p_name, ' ')[-1] AS blk FROM part GROUP BY p_name) " +
          "SELECT a.p_name AS name_a, b.p_name AS name_b, " +
          "CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist, " +
          "a.n_parts AS n_a, b.n_parts AS n_b " +
          "FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name " +
          "WHERE levenshtein(a.p_name, b.p_name) <= 2 " +
          "ORDER BY name_a, name_b"),
      (s, d) => {
        val names = Tables.t(s, d, "part")
          .groupBy("p_name")
          .agg(count(lit(1)).as("n_parts"))
          .withColumn("blk", substring_index(col("p_name"), " ", -1))
        // fresh aliases on every column: the two sides come from the same
        // plan, and distinct exprIds keep the self-join unambiguous
        val a = names.select(col("p_name").as("name_a"), col("n_parts").as("n_a"),
          col("blk").as("blk_a"))
        val b = names.select(col("p_name").as("name_b"), col("n_parts").as("n_b"),
          col("blk").as("blk_b"))
        a.join(broadcast(b),
            col("blk_a") === col("blk_b") && col("name_a") < col("name_b") &&
              levenshtein(col("name_a"), col("name_b")) <= 2)
          .select(col("name_a"), col("name_b"),
            levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"),
            col("n_a"), col("n_b"))
          .orderBy("name_a", "name_b")
      }),

    // Hash-ring negative sampling for contrastive training: each document
    // draws K=2 pseudo-random negatives — deterministically (multiplicative
    // integer hashes, so the draw is reproducible across runs, engines, and
    // partitionings, which rand() is not) and WITHOUT a cross join: docs
    // land on a 32-bucket ring and negatives come only from the NEXT
    // bucket. The oracle states this as candidate-join + per-doc window,
    // but the window's ORDER BY (nhk, neg_id) is independent of the source
    // doc — every doc targeting bucket b+1 picks the SAME two lowest-hash
    // negatives — so the plan computes per-bucket top-2 with two
    // map-side-combinable min(struct) passes (32 keys; the bucket-b+1
    // candidate-join formulation is N²/32 candidate rows, measured
    // exponent 2.4 at the sf1 rehearsal) and broadcast-joins the ≤64-row
    // result back: data-linear at any corpus size, identical output.
    // Hash arithmetic is MOD-BEFORE-MULTIPLY ((id % m)·(c % m) % m ≡
    // (id·c) % m): the raw product overflows ANSI BIGINT once ids carry
    // the rehearsal's rep·10⁹ offsets (~10¹⁰ · 2.6·10⁹ ≫ 2⁶³ — found by
    // the sf1 rehearsal), and 100 TB ids are that large for real. The
    // reduced operands bound every product below 2³⁶.
    QueryDef(
      "negative_sampling_pairs",
      Some(
        "WITH h AS (SELECT doc_id, ((doc_id % 32) * (2654435761 % 32)) % 32 AS b, " +
          "((doc_id % 1048576) * 40503) % 1048576 AS hk FROM documents), " +
          "c AS (SELECT a.doc_id, n.doc_id AS neg_id, n.hk AS nhk FROM h a " +
          "JOIN h n ON n.b = (a.b + 1) % 32) " +
          "SELECT doc_id, CAST(rn AS BIGINT) AS neg_rank, neg_id FROM (" +
          "SELECT doc_id, neg_id, row_number() OVER (PARTITION BY doc_id ORDER BY nhk, neg_id) AS rn FROM c) " +
          "WHERE rn <= 2 ORDER BY doc_id, neg_rank"),
      (s, d) => {
        val h = Tables.t(s, d, "documents")
          .select(col("doc_id"),
            pmod(pmod(col("doc_id"), lit(32L)) * lit(2654435761L % 32L), lit(32L)).as("b"),
            pmod(pmod(col("doc_id"), lit(1048576L)) * lit(40503L), lit(1048576L)).as("hk"))
        val pick = struct(col("hk"), col("doc_id"))
        val m1 = h.groupBy("b").agg(min(pick).as("m1"))
        val m2 = h.join(broadcast(m1), "b").where(pick > col("m1"))
          .groupBy("b").agg(min(pick).as("m2"))
        val top = m1.join(broadcast(m2), Seq("b"), "left")
          .select(col("b"), explode(when(col("m2").isNull, array(col("m1")))
            .otherwise(array(col("m1"), col("m2")))).as("neg"))
          .withColumn("neg_rank", row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("b").orderBy(col("neg"))).cast("long"))
        h.select(col("doc_id"), pmod(col("b") + 1, lit(32L)).as("nb"))
          .join(broadcast(top), col("nb") === top("b"))
          .select(col("doc_id"), col("neg_rank"), col("neg.doc_id").as("neg_id"))
          .orderBy("doc_id", "neg_rank")
      }),

    // Token-balanced shard assignment — the "write the corpus as K
    // equal-token training shards" step that follows packing. The semantics
    // are a GLOBAL exclusive prefix sum over a total order (shard =
    // prior_tokens div budget), which naively is one all-data
    // single-partition window — the first shape to die at scale. Here it is
    // the classic two-level scan instead: doc_id-RANGE buckets (so bucket
    // order extends the global order), an intra-bucket prefix window
    // (partitioned ✓), a ≤B-row bucket-totals prefix (the only
    // single-partition window, over B=32 rows by construction — PlanAudit
    // allowlisted), and a broadcast join of bucket offsets back. min/max/
    // total are 3 longs of bounded metadata inlined as literals (the
    // sample_mixture_weighted posture: a 1-row join back would
    // constant-fold into a BNLJ).
    QueryDef(
      "shard_balance_tokens",
      Some(
        "WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
          "p AS (SELECT doc_id, n_tok, COALESCE(sum(n_tok) OVER (ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior FROM t) " +
          "SELECT doc_id, n_tok, CAST(prior // (SELECT (sum(n_tok) + 7) // 8 FROM t) AS BIGINT) AS shard " +
          "FROM p ORDER BY doc_id"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.t(s, d, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        // bucket boundaries from doc_id QUANTILES, not uniform id-range
        // slicing: quantile cuts hold each bucket near n/32 rows under ANY
        // id distribution, where a uniform (max-min)/32 width degenerates
        // to a near-global window when 90% of ids share one narrow range
        // (the adversarial-skew ScalaCheck case in OpsSpec). Boundaries
        // only group rows — every downstream number is an exact prefix
        // sum — so approximation error shifts work, never results. One
        // driver action computes totals and cuts together (~31 longs).
        val nBuckets = 32
        val probs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
        val stats = docs.agg(
          sum("n_tok"),
          expr(s"percentile_approx(doc_id, array(${probs.mkString(", ")}), 10000)")).head()
        val total = stats.getLong(0)
        val bounds = stats.getSeq[Long](1)
        val budget = (total + 7) / 8 // ceil; exact long arithmetic both engines
        val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val bucketed = docs
          .withColumn("bucket", aggregate(typedlit(bounds), lit(0),
            (acc, b) => acc + when(col("doc_id") > b, lit(1)).otherwise(lit(0))))
        // per-bucket totals: ≤32 rows, one per range bucket — the tiny
        // second level of the scan; its unpartitioned prefix window is
        // bounded by construction at any corpus size
        val wB = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
        val offsets = bucketed.groupBy("bucket").agg(sum("n_tok").as("btot"))
          .withColumn("offset", coalesce(sum(col("btot")).over(wB), lit(0L)))
          .select("bucket", "offset")
        bucketed
          .withColumn("local_prior", coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
          .join(broadcast(offsets), "bucket")
          .select(col("doc_id"), col("n_tok"),
            expr(s"(local_prior + offset) div $budget").cast("long").as("shard"))
          .orderBy("doc_id")
      }),

    // Exact repeated-substring detection — the character-level memorization
    // hazard scan (the ExactSubstr idea behind suffix-array training-data
    // dedup, re-expressed relationally): a 40-char window sampled every 10
    // chars, a gram shared by ≥2 distinct documents marks both as carrying
    // verbatim cross-document text. Per-doc count of shared windows is the
    // dedup signal. All joins/aggs are gram- or doc-keyed (combinable,
    // skew-bounded by the stride); nothing global, nothing quadratic —
    // candidate volume is corpus_chars/10 rows of 40 bytes.
    //
    // DETECTION BOUND (pinned in OpsSpec): positional sampling detects a
    // shared verbatim run of length ≥ w + stride − 1 = 49 chars ONLY when
    // the two copies start at text offsets congruent mod 10 — a run ≥ 49
    // then contains a sampled 40-window at the same run-offset in both
    // copies. A misaligned copy (offsets differing mod 10) samples
    // DIFFERENT 40-substrings of the run and is missed at any length, and
    // a 48-char aligned run can dodge the stride entirely. PropertySpec
    // demonstrates all three cases; dedup_substring_winnow below removes
    // the alignment condition via content-defined (winnowed) sampling.
    QueryDef(
      "dedup_substring_exact",
      Some(
        "WITH g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 40) AS g " +
          "FROM documents, unnest(generate_series(1, greatest(length(text) - 39, 0), 10)) AS t(i)), " +
          "s AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2), " +
          "c AS (SELECT doc_id, count(*) AS n_shared FROM g JOIN s USING (g) GROUP BY doc_id) " +
          "SELECT d.doc_id, CAST(COALESCE(c.n_shared, 0) AS BIGINT) AS n_shared " +
          "FROM documents d LEFT JOIN c USING (doc_id) ORDER BY doc_id"),
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val grams = strideGrams(docs)
        val shared = grams.groupBy("g").agg(count(lit(1)).as("nd")).where(col("nd") >= 2)
        val counts = grams.join(shared.select("g"), Seq("g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_shared"))
        docs.select(col("doc_id"))
          .join(counts, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
          .orderBy("doc_id")
      }),

    // Winnowed repeated-substring detection — the alignment-independent
    // upgrade of dedup_substring_exact (Schleimer–Wilkerson–Aiken local
    // fingerprinting, the scheme behind MOSS): every window of 10
    // consecutive 40-gram hashes selects its minimum, so sampling is
    // CONTENT-defined and any cross-document verbatim run ≥ 49 chars is
    // detected at ANY relative alignment (OpsSpec proves the
    // guarantee over random plants). Same density as the stride kernel
    // (~1 gram per 10 chars → corpus_chars/10 candidate rows), same
    // gram-keyed joins; the hash+select pass is one narrow HOF scan.
    // FULLY INDEPENDENT oracle: the minimizer hash is md5, identical hex text in both engines, so
    // DuckDB rebuilds hashes → per-window leftmost-argmin (h, i) →
    // selection → banding entirely from the base table; the Spark-side
    // staging remains as a per-dataset performance artifact only.
    QueryDef(
      "dedup_substring_winnow",
      Some(
        "WITH d40 AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40), " +
          "g AS (SELECT doc_id, CAST(i AS INT) AS i, substr(text, CAST(i AS INT), 40) AS g, " +
          "md5(substr(text, CAST(i AS INT), 40)) AS h " +
          "FROM d40, unnest(generate_series(1, length(text) - 39)) AS t(i)), " +
          "w AS (SELECT doc_id, CAST(j AS INT) AS j " +
          "FROM d40, unnest(generate_series(1, greatest(length(text) - 48, 1))) AS t(j)), " +
          "sel AS (SELECT DISTINCT doc_id, g FROM (" +
          "SELECT w.doc_id, w.j, g.g, row_number() OVER (PARTITION BY w.doc_id, w.j ORDER BY g.h, g.i) AS rn " +
          "FROM w JOIN g ON g.doc_id = w.doc_id AND g.i BETWEEN w.j AND w.j + 9) WHERE rn = 1), " +
          "s AS (SELECT g FROM sel GROUP BY g HAVING count(*) >= 2), " +
          "c AS (SELECT doc_id, count(*) AS n_shared FROM sel JOIN s USING (g) GROUP BY doc_id) " +
          "SELECT d.doc_id, CAST(COALESCE(c.n_shared, 0) AS BIGINT) AS n_shared " +
          "FROM documents d LEFT JOIN c USING (doc_id) ORDER BY doc_id"),
      (s, d) => {
        val grams = winnowFps(s, d)
        val shared = grams.groupBy("g").agg(count(lit(1)).as("nd")).where(col("nd") >= 2)
        val counts = grams.join(shared.select("g"), Seq("g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_shared"))
        Tables.t(s, d, "documents").select(col("doc_id"))
          .join(counts, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
          .orderBy("doc_id")
      }),

    // Corpus-trained char-bigram language-model scoring — quality filtering
    // with LEARNED statistics rather than surface heuristics, in exact
    // integer micro-units so both engines agree bit-for-bit (the text_quality
    // discipline; no cross-engine libm log, no order-dependent double sums):
    // per-position typicality q = 1e6·count(c1c2) div count(c1·), per-doc
    // score = mean q. Model building is a combinable bigram count (one
    // explode pass, shuffles ~|alphabet|² partials); scoring then FOLDS each
    // doc in a single codegen HOF pass against the model inlined as a dense
    // (c1,c2)-indexed literal array — no per-position row explosion, no
    // per-position join (that shape multiplies every doc into L rows and
    // made this the most expensive key in the suite). The model is
    // O(|alphabet|²) longs — driver-collectable at any corpus size, the
    // exact shape a 100 TB scorer broadcasts.
    QueryDef(
      "quality_perplexity_proxy",
      Some(
        "WITH pos AS (SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg, substr(text, CAST(i AS INT), 1) AS c1 " +
          "FROM documents, unnest(generate_series(1, length(text) - 1)) AS t(i)), " +
          "cb AS (SELECT bg, count(*) AS nb FROM pos GROUP BY bg), " +
          "cu AS (SELECT c1, count(*) AS nu FROM pos GROUP BY c1) " +
          "SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bg, " +
          "CAST(sum(cb.nb * 1000000 // cu.nu) // count(*) AS BIGINT) AS score_micro " +
          "FROM pos p JOIN cb ON p.bg = cb.bg JOIN cu ON p.c1 = cu.c1 " +
          "GROUP BY p.doc_id ORDER BY p.doc_id"),
      (s, d) => {
        val docs = Tables.t(s, d, "documents").where(length(col("text")) >= 2)
        // The trained model is a DATASET artifact (the sim_ann_ivf
        // discipline): a production scorer trains the LM once and
        // broadcasts it to every scoring job, so the (minC, span, q)
        // triple is memoized under the documents fingerprint instead of
        // re-exploding the corpus per invocation. Scoring always re-runs.
        val (minC, span, q) = Memo.get(s, s"bigram_lm:$d", Tables.fingerprint(d, "documents")) {
          val cb = Tables.spread(s, docs)
            .select(col("doc_id"), explode(expr(
              "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")).as("bg"))
            .groupBy("bg").agg(count(lit(1)).as("nb"))
          // unigram prefix counts derive FROM the bigram model (count(c1·) =
          // Σ over bigrams starting with c1) — one corpus pass builds both
          // model levels instead of re-exploding the text
          val bigrams = cb.collect().map(r => (r.getString(0), r.getLong(1)))
          val nu = bigrams.groupBy(_._1.charAt(0)).map { case (c1, bs) => c1 -> bs.map(_._2).sum }
          // dense q lookup indexed by (c1-minC)*span + (c2-minC): every char
          // of every scored doc appears in some corpus bigram (the model and
          // the scored rows are the same filtered corpus), so lookups cannot
          // fall outside [minC, maxC] and the per-position q is an O(1)
          // array read inside whole-stage codegen
          val chars = bigrams.flatMap { case (bg, _) => Seq(bg.charAt(0), bg.charAt(1)) }
          val mn = chars.min.toInt
          val sp = chars.max.toInt - mn + 1
          val arr = new Array[Long](sp * sp)
          bigrams.foreach { case (bg, nb) =>
            arr((bg.charAt(0).toInt - mn) * sp + (bg.charAt(1).toInt - mn)) =
              nb * 1000000L / nu(bg.charAt(0))
          }
          (mn, sp, arr)
        }
        val t = col("text")
        // one codegen byte loop per doc: the aggregate(sequence) HOF runs
        // its lambda interpreted per char (7.2 s at sf0.1); the kernel form
        // is ~10x cheaper and pinned equal to the HOF in OpsSpec
        val sumQ = graft.udx.TextExpr.gramScoreSum(
          s, "graft_lm2_score", t, q, null, minC, span, 2)
        docs
          .select(col("doc_id"), (length(t) - 1).cast("long").as("n_bg"), sumQ.as("sq"))
          .select(col("doc_id"), col("n_bg"), expr("sq div n_bg").cast("long").as("score_micro"))
          .orderBy("doc_id")
      }),

    // Exact longest-shared-run length — true ExactSubstr semantics (report
    // HOW LONG the longest cross-document verbatim run is, not just that
    // one exists). Two-level design, EXACT-DUP COLLAPSE FIRST (the
    // 100 TB / replication discipline: duplicate groups grow linearly
    // with corpus growth, so a per-pair kernel over raw docs quietly goes
    // quadratic in the duplication factor — only DISTINCT contents may
    // enter the position join):
    //   (1) group identical texts; a doc with an exact twin trivially
    //       shares its FULL length (its whole text is the run);
    //   (2) between distinct contents (one representative each):
    //       full-density 40-grams, matched cross-rep positions grouped by
    //       DIAGONAL (i − j); consecutive positions form an island, run
    //       length = island size + 39 — exact for every run ≥ 40 chars.
    // Per-doc answer = max(full length if it has an exact twin, its
    // content group's cross-content longest). Fully independent oracle:
    // plain group/substr/join/window arithmetic, no staged artifact.
    // Remaining skew hazard is per-gram BOILERPLATE fan-out across
    // distinct contents — cap per-gram rep count at 100 TB (documented,
    // not needed at gate scales); islands partition by (repA, repB,
    // diagonal), so the window is many small partitions, never global.
    QueryDef(
      "dedup_substring_runlen",
      Some(
        "WITH grp AS (SELECT text, min(doc_id) AS rep, count(*) AS n FROM documents GROUP BY text), " +
          "g AS (SELECT rep, CAST(i AS INT) AS i, substr(text, CAST(i AS INT), 40) AS g " +
          "FROM grp, unnest(generate_series(1, greatest(length(text) - 39, 0))) AS t(i)), " +
          "s AS (SELECT g FROM (SELECT DISTINCT rep, g FROM g) GROUP BY g HAVING count(*) >= 2), " +
          "m AS (SELECT a.rep AS ra, b.rep AS rb, a.i - b.i AS d, a.i " +
          "FROM (SELECT * FROM g SEMI JOIN s USING (g)) a JOIN (SELECT * FROM g SEMI JOIN s USING (g)) b " +
          "ON a.g = b.g AND a.rep < b.rep), " +
          "runs AS (SELECT ra, rb, CAST(count(*) + 39 AS BIGINT) AS run FROM " +
          "(SELECT ra, rb, d, i, i - row_number() OVER (PARTITION BY ra, rb, d ORDER BY i) AS isl FROM m) " +
          "GROUP BY ra, rb, d, isl), " +
          "xr AS (SELECT rep, max(run) AS longest FROM " +
          "(SELECT ra AS rep, run FROM runs UNION ALL SELECT rb AS rep, run FROM runs) GROUP BY rep) " +
          "SELECT doc.doc_id, CAST(greatest(COALESCE(x.longest, 0), " +
          "CASE WHEN grp.n >= 2 AND length(doc.text) >= 40 THEN length(doc.text) ELSE 0 END) AS BIGINT) AS longest_run " +
          "FROM documents doc JOIN grp ON doc.text = grp.text " +
          "LEFT JOIN xr x ON grp.rep = x.rep ORDER BY doc.doc_id"),
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val grp = docs.groupBy(col("text"))
          .agg(min("doc_id").as("rep"), count(lit(1)).as("n"))
        val g = Tables.spread(s, grp.where(length(col("text")) >= 40))
          .select(col("rep"), posexplode(expr(
            "transform(sequence(1, length(text) - 39), i -> substring(text, i, 40))")))
          .select(col("rep"), (col("pos") + 1).as("i"), col("col").as("g"))
        // Shuffle fewer bytes: the shared-gram filter is a
        // PRUNER, not a verifier — the position join below matches on the
        // true 40-char gram, so a hash collision here only admits a gram
        // that then forms no cross-rep pair (it exists in one rep) and the
        // result stays exact. Running the distinct + share-count over
        // xxhash64(g) shuffles (rep, 8-byte hash) instead of (rep, 40-char
        // string) through the two 1.3M-row aggregates — fixed-width
        // codegen rows in place of string hashing/equality.
        val shared = g.select(col("rep"), xxhash64(col("g")).as("gh")).distinct()
          .groupBy("gh").agg(count(lit(1)).as("nd")).where(col("nd") >= 2).select("gh")
        val gs = g.withColumn("gh", xxhash64(col("g")))
          .join(shared, Seq("gh"), "left_semi").drop("gh")
        val a = gs.select(col("g"), col("rep").as("ra"), col("i").as("ia"))
        val b = gs.select(col("g"), col("rep").as("rb"), col("i").as("ib"))
        val m = a.join(b, Seq("g")).where(col("ra") < col("rb"))
          .select(col("ra"), col("rb"), (col("ia") - col("ib")).as("d"), col("ia").as("i"))
        val isl = m.withColumn("isl",
          col("i") - row_number().over(
            Window.partitionBy("ra", "rb", "d").orderBy("i")))
        val runs = isl.groupBy("ra", "rb", "d", "isl")
          .agg((count(lit(1)) + 39).cast("long").as("run"))
        val xr = runs.select(col("ra").as("rep"), col("run"))
          .union(runs.select(col("rb").as("rep"), col("run")))
          .groupBy("rep").agg(max(col("run")).as("longest"))
        docs.select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
          .join(grp, Seq("text"))
          .join(xr, Seq("rep"), "left_outer")
          .select(col("doc_id"), greatest(
            coalesce(col("longest"), lit(0L)),
            when(col("n") >= 2 && col("len") >= 40L, col("len")).otherwise(lit(0L))
          ).as("longest_run"))
          .orderBy("doc_id")
      }),

    // Char-TRIGRAM LM with stupid backoff: an n>2 model over the bigram
    // key's exact-integer discipline. Per position,
    // typicality q = 1e6·c(t₁t₂t₃) div c(t₁t₂·) when the trigram count
    // clears the evidence threshold (≥2); a SINGLETON trigram backs off to
    // the discounted bigram estimate 0.4·1e6·c(t₂t₃) div c(t₂·) — computed
    // as (400000·c₂₃) div c(t₂·) so the integer division happens ONCE, in
    // the same order in both engines. Fully independent oracle: unlike the
    // staged-signature keys, DuckDB rebuilds trigram/bigram/context counts
    // from the base table itself — the whole model is exact count
    // arithmetic, so no Spark artifact crosses the engine boundary.
    // Scale posture: model building is one combinable explode-count pass
    // (≤|alphabet|³ partials shuffle); scoring folds each doc against the
    // broadcast rank-compressed dense array (A³ longs, A = |alphabet|) in
    // one codegen HOF pass — same O(corpus) shape as the bigram key.
    QueryDef(
      "quality_perplexity_trigram",
      Some(
        "WITH pos3 AS (SELECT doc_id, substr(text, CAST(i AS INT), 3) AS tri, " +
          "substr(text, CAST(i AS INT), 2) AS ctx, substr(text, CAST(i AS INT) + 1, 2) AS b23, " +
          "substr(text, CAST(i AS INT) + 1, 1) AS c2 " +
          "FROM documents, unnest(generate_series(1, length(text) - 2)) AS t(i)), " +
          "cb3 AS (SELECT tri, count(*) AS n3 FROM pos3 GROUP BY tri), " +
          "cx2 AS (SELECT ctx, count(*) AS nx FROM pos3 GROUP BY ctx), " +
          "pos2 AS (SELECT substr(text, CAST(i AS INT), 2) AS bg, substr(text, CAST(i AS INT), 1) AS c1 " +
          "FROM documents, unnest(generate_series(1, length(text) - 1)) AS t(i)), " +
          "cb2 AS (SELECT bg, count(*) AS nb FROM pos2 GROUP BY bg), " +
          "cu1 AS (SELECT c1, count(*) AS nu FROM pos2 GROUP BY c1) " +
          "SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_tri, " +
          "CAST(sum(CASE WHEN cb3.n3 >= 2 THEN cb3.n3 * 1000000 // cx2.nx " +
          "ELSE (400000 * cb2.nb) // cu1.nu END) // count(*) AS BIGINT) AS score_micro " +
          "FROM pos3 p JOIN cb3 USING (tri) JOIN cx2 USING (ctx) " +
          "JOIN cb2 ON p.b23 = cb2.bg JOIN cu1 ON p.c2 = cu1.c1 " +
          "GROUP BY p.doc_id ORDER BY p.doc_id"),
      (s, d) => {
        val docs = Tables.t(s, d, "documents").where(length(col("text")) >= 3)
        // the trained model (a rank-compressed dense q3 cube, A³ cells for
        // an A-char alphabet, with the backoff branch folded in) is
        // memoized like quality_perplexity_proxy's
        val (minC, nRanks, rankArr, q3) = Memo.get(s, s"trigram_lm:$d", Tables.fingerprint(d, "documents")) {
          val base = Tables.t(s, d, "documents")
          // one explode pass per model level; both are combinable counts
          val tri = Tables.spread(s, docs)
            .select(explode(expr(
              "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")).as("tri"))
            .groupBy("tri").agg(count(lit(1)).as("n3"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
          val bg = Tables.spread(s, base.where(length(col("text")) >= 2))
            .select(explode(expr(
              "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")).as("bg"))
            .groupBy("bg").agg(count(lit(1)).as("nb"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
          val ctx2 = tri.groupBy(_._1.substring(0, 2)).map { case (c, ts) => c -> ts.map(_._2).sum }
          val cu1 = bg.groupBy(_._1.charAt(0)).map { case (c, bs) => c -> bs.map(_._2).sum }
          val nb = bg.toMap
          // rank compression: 90-slot ascii span × 25 observed chars would
          // waste a 729k-cell dense cube; ranks shrink it to A³ (~16k)
          val chars = bg.flatMap { case (b, _) => Seq(b.charAt(0), b.charAt(1)) }.distinct.sorted
          val mn = chars.head.toInt
          val span = chars.last.toInt - mn + 1
          val rk = new Array[Int](span)
          chars.zipWithIndex.foreach { case (c, i) => rk(c.toInt - mn) = i + 1 }
          val a = chars.length
          val q = new Array[Long](a * a * a)
          tri.foreach { case (t3, n3) =>
            val i = ((rk(t3.charAt(0) - mn) - 1) * a + (rk(t3.charAt(1) - mn) - 1)) * a +
              (rk(t3.charAt(2) - mn) - 1)
            q(i) =
              if (n3 >= 2) n3 * 1000000L / ctx2(t3.substring(0, 2))
              else 400000L * nb(t3.substring(1, 3)) / cu1(t3.charAt(1))
          }
          (mn, a, rk, q)
        }
        val t = col("text")
        // codegen byte loop with the rank-compressed cube: the
        // triple-substr aggregate HOF takes 10.8 s at sf0.1; kernel
        // equality pinned in OpsSpec
        val sumQ = graft.udx.TextExpr.gramScoreSum(
          s, "graft_lm3_score", t, q3, rankArr, minC, nRanks, 3)
        docs
          .select(col("doc_id"), (length(t) - 2).cast("long").as("n_tri"), sumQ.as("sq"))
          .select(col("doc_id"), col("n_tri"), expr("sq div n_tri").cast("long").as("score_micro"))
          .orderBy("doc_id")
      })
  )

  /** Messy-URL construction + canonicalization pipeline as a chain of
    * dialect-shared SQL expressions over a running column `u` (the first
    * entry builds the messy URL from doc_id/source; `cast` is the only
    * dialect difference: STRING vs VARCHAR).
    */
  private def urlCanonSteps(cast: String): Seq[String] = Seq(
    // messy input: scheme case noise, www., default port, trailing slash
    // before the query, utm_* tracking params — all doc_id-deterministic
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END || source || " +
      "'.Example.COM' || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END || " +
      s"'/page/' || CAST(doc_id % 13 AS $cast) || " +
      "CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END || " +
      s"'?utm_source=feed&id=' || CAST(doc_id % 10 AS $cast) || '&utm_campaign=x'",
    "regexp_replace(u, '(?i)^https://', '')", // scheme off (case-insensitive)
    "regexp_replace(u, '(?i)^www[.]', '')", // www. stripped
    // host lowercased, default https port dropped, path/query untouched
    "lower(regexp_extract(u, '^[^/:]*', 0)) || " +
      "regexp_replace(substr(u, length(regexp_extract(u, '^[^/:]*', 0)) + 1), '^:443', '')",
    "regexp_replace(u, '/[?]', '?')", // trailing slash before query
    "regexp_replace(u, 'utm_source=[a-z]*[&]', '')", // tracking params out
    "regexp_replace(u, '[&]utm_campaign=[a-z]*', '')",
    "'https://' || u") // canonical scheme back on
}
