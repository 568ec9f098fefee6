package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Ckpt, QueryDef, Tables}

/** Corpus-level curation operators (SURVEY §2.L addendum): statistics that
  * look across the whole documents table rather than within one row —
  * boilerplate span detection, per-document salient terms, and the composed
  * keep/drop quality gate a pre-training pipeline applies before tokenizing.
  *
  * Scale notes:
  *   - Everything aggregates with map-side partials; the only broadcast is
  *     vocabulary-sized (distinct words / distinct grams after the count),
  *     which stays millions of rows at 100 TB — far under the fact side.
  *   - Scores are exact integers (micro-units, floor division) so ranking is
  *     bit-identical in Spark and DuckDB; no IEEE log/division ordering
  *     hazards.
  */
object Corpus {

  /** Top-1000 corpus bigram set memoized per (session, dataset) — a corpus
    * artifact like [[Pipeline]]'s trained LM; per-doc coverage always
    * re-runs.
    */
  private val topPairsCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), Array[String]]()

  /** BM25 sum over the three query terms — ONE string, spliced verbatim into
    * both the Spark projection and the DuckDB oracle so the IEEE double
    * arithmetic is the same expression tree in both engines. Inputs (n, sl,
    * df*, tf*, dl) are all exact int64 at this point.
    */
  private val bm25Formula: String = Seq(1, 2, 3).map { i =>
    s"ln((CAST(n AS DOUBLE) - df$i + 0.5) / (df$i + 0.5) + 1) * (CAST(tf$i AS DOUBLE) * 2.2) " +
      s"/ (tf$i + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * n / sl))"
  }.mkString(" + ")

  /** Number of BPE merge rounds for tokenizer_train_bpe — small enough for
    * an unrolled CTE-chain oracle, enough rounds to exercise merged-symbol
    * pairs (on the sf corpora round 6's winning pair is 'm er', containing
    * round 1's merge — so the loop provably feeds merges back into the
    * pair statistic, the property a single pair-count pass cannot show).
    */
  private val BpeMerges = 8

  /** Unrolled N-step DuckDB mirror of the BPE merge loop. Segmentations are
    * ONE string per word with DOUBLE-space boundaries ("  c1  c2  ...  "):
    * applying merge (a, b) is then plain literal
    * replace(seq, ' a  b ', ' ab ') in BOTH engines — each occurrence owns
    * one space of each boundary pair, so greedy left-to-right replace
    * merges adjacent repeats exactly like BPE ("a a a" → "aa a",
    * "a b a b" → "ab ab"); and the single-space inner pattern cannot match
    * a symbol SUFFIX (every true boundary is double-spaced, a suffix match
    * would need the pattern's leading space inside a symbol — symbols never
    * contain spaces, they come from space-split words).
    */
  /** The trainer CTE chain (w0/s0, per-round p_r/b_r/s_r) shared by the
    * train oracle and the apply oracle — b_r holds round r's
    * winning pair as a scalar-subquery-able one-row table.
    */
  private def bpeCtes: String = {
    val sb = new StringBuilder
    sb ++= "w0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE length(word) > 0 GROUP BY word), "
    sb ++= "s0 AS MATERIALIZED (SELECT freq, '  ' || array_to_string([word[i] for i in range(1, length(word) + 1)], '  ') || '  ' AS seq FROM w0)"
    for (r <- 1 to BpeMerges) {
      val prev = s"s${r - 1}"
      sb ++= s", p$r AS MATERIALIZED (SELECT pair, CAST(sum(freq) AS BIGINT) AS f FROM " +
        "(SELECT freq, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS pair FROM " +
        s"(SELECT freq, list_filter(string_split(seq, '  '), x -> x != '') AS t FROM $prev) " +
        "WHERE len(t) >= 2) GROUP BY pair)"
      sb ++= s", b$r AS MATERIALIZED (SELECT pair, f FROM p$r ORDER BY f DESC, pair LIMIT 1)"
      if (r < BpeMerges)
        sb ++= s", s$r AS MATERIALIZED (SELECT freq, replace(seq, " +
          s"' ' || string_split((SELECT pair FROM b$r), ' ')[1] || '  ' || string_split((SELECT pair FROM b$r), ' ')[2] || ' ', " +
          s"' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS seq FROM $prev)"
    }
    sb.toString
  }

  private def bpeOracle: String = {
    s"WITH $bpeCtes SELECT rank, pair, freq FROM (" +
      (1 to BpeMerges)
        .map(r => s"SELECT CAST($r AS BIGINT) AS rank, pair, f AS freq FROM b$r")
        .mkString(" UNION ALL ") +
      ") ORDER BY rank"
  }

  /** Apply oracle: re-derives the merge list (the trainer chain's
    * b_r tables) from the base table, then encodes every document — the
    * per-word double-space segmentation, the SAME eight literal replaces in
    * rank order, token/symbol counts and the first-8-token stream (word
    * order via WITH ORDINALITY ↔ Spark's posexplode). Fully independent.
    */
  private def bpeApplyOracle: String = {
    val sb = new StringBuilder
    sb ++= s"WITH $bpeCtes"
    // position via the generate_series lateral (DuckDB 1.0 has no
    // WITH ORDINALITY); 1-based pos, used only for ordering, matching
    // Spark's 0-based posexplode order
    sb ++= ", d0 AS MATERIALIZED (SELECT doc_id, CAST(t.i AS INT) AS pos, w[CAST(t.i AS INT)] AS word FROM " +
      "(SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w FROM documents), " +
      "unnest(generate_series(1, len(w))) AS t(i))"
    sb ++= ", a0 AS MATERIALIZED (SELECT doc_id, pos, " +
      "'  ' || array_to_string([word[i] for i in range(1, length(word) + 1)], '  ') || '  ' AS seq FROM d0)"
    for (r <- 1 to BpeMerges)
      sb ++= s", a$r AS MATERIALIZED (SELECT doc_id, pos, replace(seq, " +
        s"' ' || string_split((SELECT pair FROM b$r), ' ')[1] || '  ' || string_split((SELECT pair FROM b$r), ' ')[2] || ' ', " +
        s"' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS seq FROM a${r - 1})"
    sb ++= s", tk AS (SELECT doc_id, pos, list_filter(string_split(seq, '  '), x -> x != '') AS toks FROM a$BpeMerges) "
    sb ++= "SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens, " +
      "CAST(len(list_distinct(flatten(list(toks)))) AS BIGINT) AS n_symbols, " +
      "array_to_string(flatten(list(toks ORDER BY pos))[1:8], ' ') AS head_tokens " +
      "FROM tk GROUP BY doc_id ORDER BY doc_id"
    sb.toString
  }

  /** Fertility oracle: re-derives the trainer chain's merges from
    * the base table, encodes every word (the same replace chain as the
    * apply oracle, without positional bookkeeping), and aggregates the
    * tokenizer-evaluation ratios per language in exact integer micro-units.
    * Fully independent.
    */
  private def bpeFertilityOracle: String = {
    val sb = new StringBuilder
    sb ++= s"WITH $bpeCtes"
    sb ++= ", f0 AS MATERIALIZED (SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word FROM documents)"
    sb ++= ", g0 AS MATERIALIZED (SELECT doc_id, lang, word, " +
      "'  ' || array_to_string([word[i] for i in range(1, length(word) + 1)], '  ') || '  ' AS seq FROM f0)"
    for (r <- 1 to BpeMerges)
      sb ++= s", g$r AS MATERIALIZED (SELECT doc_id, lang, word, replace(seq, " +
        s"' ' || string_split((SELECT pair FROM b$r), ' ')[1] || '  ' || string_split((SELECT pair FROM b$r), ' ')[2] || ' ', " +
        s"' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS seq FROM g${r - 1})"
    sb ++= s", ft AS (SELECT doc_id, lang, length(word) AS n_chr, " +
      s"len(list_filter(string_split(seq, '  '), x -> x != '')) AS n_tok FROM g$BpeMerges) "
    sb ++= "SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
      "CAST(count(*) AS BIGINT) AS n_words, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      "CAST(sum(n_chr) AS BIGINT) AS n_chars, " +
      "(1000000 * CAST(sum(n_tok) AS BIGINT)) // CAST(count(*) AS BIGINT) AS fertility_micro, " +
      "(1000000 * CAST(sum(n_chr) AS BIGINT)) // CAST(sum(n_tok) AS BIGINT) AS chars_per_token_micro " +
      "FROM ft GROUP BY lang ORDER BY lang"
    sb.toString
  }

  /** Run the BPE merge loop (the trainer): BpeMerges rounds of
    * argmax-pair + literal merge over the word-frequency table. Returns
    * (rank, pair, freq) rows; callers own memoization policy —
    * tokenizer_train_bpe recomputes fresh per invocation (bench honesty),
    * tokenizer_apply_bpe reuses the per-dataset model artifact.
    */
  private def trainBpeMerges(
      s: org.apache.spark.sql.SparkSession, d: String): Seq[(Long, String, Long)] = {
    val words = Tables.spread(s, Tables.t(s, d, "documents"))
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit("  "),
          array_join(expr("filter(split(word, ''), x -> x != '')"), "  "),
          lit("  ")).as("seq"))
    var (cur, ids) = Ckpt(words)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (r <- 1 to BpeMerges) {
      val best = cur
        .select(col("freq"),
          expr("filter(split(seq, '  '), x -> x != '')").as("t"))
        .where(size(col("t")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("f"))
        .orderBy(col("f").desc, col("pair"))
        .limit(1).collect()
      require(best.nonEmpty, s"BPE round $r: no pairs left to merge")
      val pair = best(0).getString(0)
      merges += ((r.toLong, pair, best(0).getLong(1)))
      if (r < BpeMerges) {
        val Array(a, b) = pair.split(" ", 2)
        val (nxt, nids) = Ckpt(cur.withColumn("seq",
          replace(col("seq"), lit(s" $a  $b "), lit(s" $a$b "))))
        cur = nxt
        ids = ids ++ nids
      }
    }
    // every job that reads the checkpoints has completed (ckpt is
    // eager, the argmax collects are the only consumers) — release now
    Ckpt.release(s, ids)
    merges.toSeq
  }

  /** Per-dataset trained-merge artifact, fingerprint-keyed like the
    * Pipeline LMs (in-place regeneration re-trains).
    */
  private val bpeMergeCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), Seq[(Long, String, Long)]]()

  private def bpeMergesCached(
      s: org.apache.spark.sql.SparkSession, d: String): Seq[(Long, String, Long)] =
    bpeMergeCache.computeIfAbsent(
      (s, Tables.fingerprint(d, "documents")), _ => trainBpeMerges(s, d))

  def defs: Seq[QueryDef] = Seq(

    // Corpus boilerplate detection: the word-5-grams shared by the most
    // documents. `array_distinct` runs inside the per-row HOF (no
    // per-(doc,gram) dedup shuffle), then one hash aggregate + a global
    // top-20 under a total order (df DESC, gram ASC) — TakeOrdered, no full
    // sort. At 100 TB this is the standard "find template text" pass; the
    // gram table is the only shuffle and it combines map-side.
    QueryDef(
      "corpus_ngram_topk",
      Some(
        "WITH s AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]) AS sh " +
          "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 5), " +
          "g AS (SELECT doc_id, unnest(sh) AS gram FROM s) " +
          "SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY gram " +
          "ORDER BY df DESC, gram LIMIT 20"),
      (s, d) => {
        // spread + pre-split: the gram generation is per-row interpreted-HOF
        // work, so it must not run on a one-row-group scan's single task
        Tables.spread(s, Tables.t(s, d, "documents"))
          .select(split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 5)
          .select(explode(expr(Llm.shinglesFromW)).as("gram"))
          .groupBy("gram")
          .agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("gram"))
          .limit(20)
      }),

    // Tokenizer bootstrap: corpus-wide adjacent-token pair frequencies —
    // the statistic behind a BPE merge step (each merge round picks the
    // most frequent pair). Counts ALL occurrences (no per-doc dedup: merge
    // frequency is occurrence-weighted), so the only shuffle is one
    // combinable hash agg over pair strings, then a TakeOrdered top-20
    // under a total order. At 100 TB this is the canonical "one narrow
    // explode + one agg" pass — the pair table is vocabulary², not corpus,
    // sized.
    QueryDef(
      "tokenizer_pair_counts",
      Some(
        "WITH w AS (SELECT string_split(text, ' ') AS t FROM documents), " +
          "p AS (SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS pair " +
          "FROM w WHERE len(t) >= 2) " +
          "SELECT pair, CAST(count(*) AS BIGINT) AS freq FROM p " +
          "GROUP BY pair ORDER BY freq DESC, pair LIMIT 20"),
      (s, d) =>
        // spread + pre-split (see corpus_ngram_topk): the pair lambda
        // indexes the staged token array with O(1) element_at instead of
        // re-splitting + slicing per position
        Tables.spread(s, Tables.t(s, d, "documents"))
          .select(split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(w) - 1), " +
              "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))")).as("pair"))
          .groupBy("pair")
          .agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("pair"))
          .limit(20)),

    // Tokenizer training proper: the iterative BPE merge loop over the
    // word-frequency table (the actual workload tokenizer_pair_counts only
    // bootstraps). One corpus-sized combinable agg builds (word, freq) —
    // after that EVERY round runs on the vocabulary-sized table: count
    // adjacent symbol pairs (occurrence-weighted by word freq), pick the
    // argmax under a total order (freq DESC, pair ASC — one collected row
    // per round, the components-loop driver posture), apply the merge with
    // a literal replace over the double-space-delimited segmentation (see
    // [[bpeOracle]] for why that is exactly BPE's greedy merge), and
    // localCheckpoint the new segmentation (Ckpt: each round's plan
    // reads the previous round twice — pair count + merge apply — so
    // without the cut the lineage doubles per round). All checkpoint
    // blocks are released after the loop: the output (rank, pair, freq)
    // merge table is driver-held, N rows. At 100 TB: vocabulary stays
    // millions of rows, so the loop is N small jobs after one corpus pass.
    QueryDef(
      "tokenizer_train_bpe",
      Some(bpeOracle),
      (s, d) => {
        val sp = s
        import sp.implicits._
        trainBpeMerges(s, d).toDF("rank", "pair", "freq").orderBy("rank")
      }),

    // Tokenizer family step 3: APPLY the trained merges — encode
    // every document with the 8-merge BPE the trainer produced, the step a
    // pipeline runs over the whole corpus once training converges. Per-word
    // segmentations use the trainer's double-space string representation,
    // so applying merge r is the SAME literal replace in both engines;
    // merges apply in rank order (the deterministic BPE encode). Output per
    // doc: encoded token count, distinct symbols used, and the first 8
    // tokens of the encoded stream (word order preserved via posexplode /
    // WITH ORDINALITY). The merge list is a per-dataset model artifact
    // (fingerprint-memoized — the trained-LM discipline; the key is in
    // SparkEntry.memoizedKeys); encoding itself always re-runs, one narrow
    // codegen string pass per word plus a doc-keyed aggregate — linear,
    // broadcast-free at any corpus size.
    QueryDef(
      "tokenizer_apply_bpe",
      Some(bpeApplyOracle),
      (s, d) => {
        val merges = bpeMergesCached(s, d)
        val seq0 = concat(lit("  "),
          array_join(expr("filter(split(word, ''), x -> x != '')"), "  "),
          lit("  "))
        val encoded = merges.foldLeft(seq0) { case (c, (_, pair, _)) =>
          val Array(a, b) = pair.split(" ", 2)
          replace(c, lit(s" $a  $b "), lit(s" $a$b "))
        }
        Tables.spread(s, Tables.t(s, d, "documents"))
          .select(col("doc_id"),
            posexplode(expr("filter(split(text, ' '), x -> x != '')"))
              .as(Seq("pos", "word")))
          .select(col("doc_id"), col("pos"),
            filter(split(encoded, "  "), x => x =!= lit("")).as("toks"))
          .groupBy("doc_id")
          .agg(
            sum(size(col("toks"))).as("n_tokens"),
            size(array_distinct(flatten(collect_list(col("toks"))))).cast("long")
              .as("n_symbols"),
            array_join(
              slice(flatten(expr(
                "transform(array_sort(collect_list(struct(pos, toks))), x -> x.toks)")),
                1, 8), " ").as("head_tokens"))
          .orderBy("doc_id")
      }),

    // Tokenizer family step 4: EVALUATE the trained tokenizer —
    // per-language fertility (encoded tokens per word) and compression
    // (chars per token), the standard multilingual tokenizer-quality
    // metrics (a tokenizer trained on one language's distribution encodes
    // others at higher fertility — the number a data pipeline watches when
    // choosing vocab size / training mix). Same per-word literal-replace
    // encode as tokenizer_apply_bpe (one codegen pass, merges
    // fingerprint-memoized), then one map-side-combinable per-lang
    // aggregate over exact integer micro-units — linear, broadcast-free;
    // the lang-cardinality output is tiny at any corpus size.
    QueryDef(
      "tokenizer_fertility",
      Some(bpeFertilityOracle),
      (s, d) => {
        val merges = bpeMergesCached(s, d)
        val seq0 = concat(lit("  "),
          array_join(expr("filter(split(word, ''), x -> x != '')"), "  "),
          lit("  "))
        val encoded = merges.foldLeft(seq0) { case (c, (_, pair, _)) =>
          val Array(a, b) = pair.split(" ", 2)
          replace(c, lit(s" $a  $b "), lit(s" $a$b "))
        }
        Tables.spread(s, Tables.t(s, d, "documents"))
          .select(col("doc_id"), col("lang"),
            explode(expr("filter(split(text, ' '), x -> x != '')")).as("word"))
          .select(col("doc_id"), col("lang"),
            size(filter(split(encoded, "  "), x => x =!= lit(""))).as("n_tok"),
            length(col("word")).as("n_chr"))
          .groupBy("lang")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_words"),
            sum(col("n_tok")).cast("long").as("n_tokens"),
            sum(col("n_chr")).cast("long").as("n_chars"))
          .select(col("lang"), col("n_docs"), col("n_words"),
            col("n_tokens"), col("n_chars"),
            expr("(1000000 * n_tokens) DIV n_words").as("fertility_micro"),
            expr("(1000000 * n_chars) DIV n_tokens").as("chars_per_token_micro"))
          .orderBy("lang")
      }),

    // Per-document salient terms: top-3 words by an exact-integer tf-idf
    // proxy, score = tf * ((1e6 * N) DIV df) — monotone in tf·N/df, and
    // floor division keeps the ranking engine-independent where
    // tf*ln(N/df) would tie-break on IEEE rounding. df and N are
    // vocabulary/scalar-sized, so both join sides of the fact table are
    // broadcasts; the per-doc window partitions by doc_id only.
    QueryDef(
      "doc_tfidf_topk",
      Some(
        "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
          "tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word), " +
          "df AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM w GROUP BY word), " +
          "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents), " +
          "scored AS (SELECT doc_id, word, tf, tf * ((1000000 * n_docs) // df) AS score, " +
          "row_number() OVER (PARTITION BY doc_id ORDER BY tf * ((1000000 * n_docs) // df) DESC, word) AS rn " +
          "FROM tf JOIN df USING (word) CROSS JOIN n) " +
          "SELECT doc_id, word, tf, score FROM scored WHERE rn <= 3 ORDER BY doc_id, score DESC, word"),
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        val df = words.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        // Constant-key equi-join against the single-row doc count: same
        // semantics as a cross join but plans as BroadcastHashJoin, keeping
        // the repo-wide no-BNLJ plan audit meaningful. The key must be
        // derived from a column in a form the optimizer cannot constant-fold
        // (`lit(1)` and non-nullable `x * 0` both fold, turning the
        // condition into TRUE and the plan back into BNLJ); `when` without
        // otherwise is nullable, hence unfoldable, and never null here
        // (tf >= 1, n_docs >= 0 always).
        val scored = tf
          .join(broadcast(df), "word")
          .withColumn("k", when(col("tf") > 0, 0L))
          .join(broadcast(n.withColumn("k", when(col("n_docs") >= 0, 0L))), "k")
          .drop("k")
          .withColumn("score", expr("tf * ((1000000 * n_docs) DIV df)"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
        scored
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select("doc_id", "word", "tf", "score")
          .orderBy(col("doc_id"), col("score").desc, col("word"))
      }),

    // Composed quality gate: the keep/drop decision a pre-training pipeline
    // makes per document — min length, distinct-token ratio, duplicate-5-gram
    // fraction, stopword presence — all in exact integer micro-units (same
    // formulas as text_quality / text_repetition_filter). One narrow HOF
    // pass, zero shuffles before the final per-lang summary aggregate.
    QueryDef(
      "quality_ensemble_filter",
      Some(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_keep, " +
          "CAST(sum(n_toks) FILTER (WHERE keep) AS BIGINT) AS kept_toks FROM " +
          "(SELECT lang, n_toks, n_toks >= 20 " +
          "AND (nd_toks * 1000000) // n_toks >= 100000 " +
          "AND (CASE WHEN n_grams > 0 THEN (n_grams - nd_grams) * 1000000 // n_grams ELSE 0 END) <= 300000 " +
          "AND n_stop > 0 AS keep FROM " +
          "(SELECT lang, CAST(len(w) AS BIGINT) AS n_toks, " +
          "CAST(len(list_distinct(w)) AS BIGINT) AS nd_toks, " +
          "CAST(len(g) AS BIGINT) AS n_grams, CAST(len(list_distinct(g)) AS BIGINT) AS nd_grams, " +
          "CAST(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop FROM " +
          "(SELECT lang, w, [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)] AS g " +
          "FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)))) " +
          "GROUP BY lang ORDER BY lang"),
      (s, d) => {
        // spread before the HOF pass: documents is a single-split
        // file at bench scales, so the gram/distinct kernels and the
        // map-side partial aggregate otherwise run on one core. No filter
        // sits between the spread and the aggregate, so nothing sinks the
        // projection back into the scan stage (the winnowGrams hazard).
        Tables.spread(s, Tables.t(s, d, "documents"))
          .select(col("lang"), split(col("text"), " ").as("w"))
          .select(col("lang"), col("w"),
            expr(s"CASE WHEN size(w) >= 5 THEN ${Llm.gramsFromW} ELSE array() END").as("g"))
          .select(col("lang"),
            size(col("w")).cast("long").as("n_toks"),
            size(array_distinct(col("w"))).cast("long").as("nd_toks"),
            size(col("g")).cast("long").as("n_grams"),
            size(array_distinct(col("g"))).cast("long").as("nd_grams"),
            size(filter(col("w"), x => x.isin("the", "a", "of", "and", "to", "in"))).cast("long").as("n_stop"))
          .withColumn("keep",
            expr("n_toks >= 20 AND (nd_toks * 1000000) DIV n_toks >= 100000 " +
              "AND (CASE WHEN n_grams > 0 THEN (n_grams - nd_grams) * 1000000 DIV n_grams ELSE 0 END) <= 300000 " +
              "AND n_stop > 0"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("keep"), lit(1))).as("n_keep"),
            sum(when(col("keep"), col("n_toks"))).as("kept_toks"))
          .orderBy("lang")
      }),

    // Ranked retrieval: Okapi BM25 (k1=1.2, b=0.75) for a fixed 3-term
    // query over the whole corpus. Per-document term frequencies and length
    // come from ONE narrow HOF pass (tokens never explode — `size(filter(
    // toks, …))` counts inside the row); the corpus statistics (N, Σdl, df
    // per term) are ONE combinable aggregate collapsing to a single row,
    // which re-enters as a constant-key broadcast. The ranking is a
    // TakeOrdered top-20, so nothing global ever sorts. All agg inputs are
    // exact int64; the BM25 formula runs once in IEEE double as identical
    // expression text in both engines (same discipline as
    // agg_corr_matrix / window_anomaly_zscore). At 100 TB: one scan for
    // stats, one for scoring (both pruned to doc_id+text), a 1-row
    // broadcast, zero wide exchanges beyond the stats partial agg.
    QueryDef(
      "rank_bm25_topk",
      Some(
        "WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks " +
          "FROM documents), " +
          "d AS (SELECT doc_id, len(toks) AS dl, " +
          "len(list_filter(toks, x -> x = 'vector')) AS tf1, " +
          "len(list_filter(toks, x -> x = 'stream')) AS tf2, " +
          "len(list_filter(toks, x -> x = 'merge')) AS tf3 FROM tok), " +
          "st AS (SELECT count(*) AS n, sum(dl) AS sl, " +
          "sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1, " +
          "sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2, " +
          "sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3 FROM d) " +
          "SELECT doc_id, CAST(dl AS BIGINT) AS dl, CAST(tf1 + tf2 + tf3 AS BIGINT) AS tf_total, " +
          s"round($bm25Formula, 6) AS score " +
          "FROM d, st WHERE tf1 + tf2 + tf3 > 0 " +
          "ORDER BY score DESC, doc_id LIMIT 20"),
      (s, d) => {
        // spread: the regex tokenize + term-filter HOFs are per-row work —
        // parallelize off the single-row-group local scan.
        // Ckpt.slot: the per-doc (dl, tf1..tf3) table feeds BOTH the
        // corpus-stats aggregate and the scoring join — without the
        // checkpoint each consumer re-runs the regex tokenize over the whole
        // corpus (two full passes). The materialized table is 5 longs per
        // doc; the checkpoint executes inside the timed invocation and the
        // corpus is now scanned once. Solo gate measurement in
        // OPTIMIZATION_r17.md.
        val scored = graft.Ckpt.slot(s"bm25:$d",
          Tables.spread(s, Tables.t(s, d, "documents"))
          .select(col("doc_id"),
            expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("dl"),
            expr("size(filter(toks, x -> x = 'vector'))").cast("long").as("tf1"),
            expr("size(filter(toks, x -> x = 'stream'))").cast("long").as("tf2"),
            expr("size(filter(toks, x -> x = 'merge'))").cast("long").as("tf3")))
        val st = scored.agg(
          count(lit(1)).as("n"), sum(col("dl")).as("sl"),
          sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
          sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
          sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))
        // constant-key BHJ against the single stats row (see doc_tfidf_topk
        // for why `when` without otherwise is the unfoldable key)
        scored
          .where(col("tf1") + col("tf2") + col("tf3") > 0)
          .withColumn("k", when(col("dl") >= 0, 0L))
          .join(broadcast(st.withColumn("k", when(col("n") >= 0, 0L))), "k")
          .select(col("doc_id"), col("dl"), (col("tf1") + col("tf2") + col("tf3")).as("tf_total"),
            expr(s"round($bm25Formula, 6)").as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      }),

    // Language-model quality proxy without a model: score each document by
    // how much of it is made of the corpus's common bigrams (the in-domain
    // "perplexity-ish" signal cheap enough to run on everything). Pass 1
    // finds the global top-1000 bigrams (one combinable gram aggregate +
    // TakeOrdered under a total order); pass 2 re-walks the pair stream
    // against the BROADCAST top set and folds per-document hit counts.
    // Coverage is exact integer basis points — no IEEE log-prob ordering
    // hazard. At 100 TB the only wide exchanges are the gram count and the
    // per-doc fold, both map-side combining; the model itself (the top set)
    // is O(1000) rows.
    QueryDef(
      "text_bigram_coverage",
      Some(
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
          "p AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS pair " +
          "FROM w WHERE len(t) >= 2), " +
          "top AS (SELECT pair FROM (SELECT pair, count(*) AS c FROM p " +
          "GROUP BY pair ORDER BY c DESC, pair LIMIT 1000)) " +
          "SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bi, " +
          "CAST(count(t.pair) AS BIGINT) AS n_hit, " +
          "CAST((10000 * count(t.pair)) // count(*) AS BIGINT) AS cov_bp " +
          "FROM p LEFT JOIN top t ON p.pair = t.pair " +
          "GROUP BY p.doc_id ORDER BY p.doc_id"),
      (s, d) => {
        // spread + pre-split (see tokenizer_pair_counts)
        val pairs = Tables.spread(s, Tables.t(s, d, "documents"))
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(w) - 1), " +
              "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))")).as("pair"))
        // the top-1000 set is a corpus ARTIFACT (the bigramLmCache
        // discipline): built once per (session, dataset), re-entered as a
        // 1000-row broadcast; the per-doc coverage pass always re-runs
        val topArr = topPairsCache.computeIfAbsent((s, d), { case _ =>
          pairs.groupBy("pair").agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("pair")).limit(1000)
            .collect().map(_.getString(0))
        })
        val sp = s
        import sp.implicits._
        val top = topArr.toSeq.toDF("pair").select(col("pair"), lit(1L).as("hit"))
        pairs.join(broadcast(top), Seq("pair"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bi"), count(col("hit")).as("n_hit"))
          .select(col("doc_id"), col("n_bi"), col("n_hit"),
            expr("(10000 * n_hit) div n_bi").cast("long").as("cov_bp"))
          .orderBy("doc_id")
      }))
}
