package graft.llm

import graft.{Ckpt, Memo, QueryDef, Tables}
import graft.udx.Udx
import graft.llm.Vectors.Duck
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.L + the driver-mandated training-data-pipeline operators:
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + LSH-bucketed ANN),
  * text analysis (language-ID, quality scoring, token counting,
  * fingerprinting), and multimodal binary columns.
  *
  * Scale posture (100 TB): every near-dup operator is candidate-generation
  * (equi-join on LSH band / bucket keys — shuffles on small keys) followed by
  * exact verification on candidates only; no O(n²) driver-side loops. The
  * brute-force pairwise forms exist as correctness baselines and are scoped
  * (per-label / per-source / fixed query set) so their cost is bounded.
  */
object Llm {

  /** Cardinality cap for the quarantined exact all-pairs cosine fixture
    * (dedup_embed_cosine): 10k rows ≈ 5·10⁷ pair kernels, the most the
    * declared quadratic should ever pay by default. The bench scales
    * (sf0.001–sf0.1 ≤ 2000 rows) pass; the 10× GenScale rehearsal (20k)
    * fails fast — by design, the rehearsals already exclude this key.
    */
  val ExactCosineMaxRows: Long = 10000L

  /** Per-source distinct-content cap for the declared-exact gram-pair
    * kernels (dedup_ngram_jaccard / dedup_containment) — see the
    * quarantine note on [[gramPairs]].
    */
  val GramPairMaxReps: Long = 16384L

  /** The 8 signed hyperplanes of the LSH fold — a FIXED, seed-42 ±1
    * pattern shared verbatim by the Spark kernel and the DuckDB oracle
    * (inlined [±1.0,…] lists), so both engines compute the bucket fold
    * independently with the one fold order of [[Vectors]].
    */
  private val LshPlanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(8)(Array.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** The staged sign-LSH bucket table — a Spark-side PERFORMANCE artifact
    * only (the fold runs once per dataset fingerprint; the query's bucket
    * join reads it). The ORACLE does not read it: the seed-42 planes
    * inline into the SQL and DuckDB recomputes the sign fold from the base
    * table (see [[LshPlanes]]).
    */
  private def lshBuckets(s: SparkSession, d: String): DataFrame =
    Tables.stagedTable(s, "graft_lshbuckets", d, Tables.fingerprint(d, "embeddings")) {
      val sp = s
      import sp.implicits._
      Tables.spread(s, Tables.t(s, d, "embeddings"))
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, v) => (id, Vectors.signBits(v.map(_.toDouble), LshPlanes).toInt) }
        .toDF("vec_id", "bucket")
    }

  /** Staging name of the PHYSICAL Matryoshka prefix column:
    * slicing the full 64-dim column in-flight would make sim_mrl_rerank's
    * coarse-pass 4× IO reduction semantic only — the scan would still read
    * every byte. The staged table carries ONLY (vec_id, emb16 = first 16
    * dims), written once per dataset fingerprint; the coarse top-20 ranking
    * reads this table EXCLUSIVELY (PlanSpec pins its scan's ReadSchema), and
    * the 64-dim base column is read solely by the O(20·|Q|) rerank join. At
    * 100 TB this is the real MRL serving layout: the wide column stays in
    * cold storage and the funnel's first stage scans a ~4×-narrower file
    * (measured bytes ratio in PLANS.md). A performance artifact only — the
    * oracle derives the same prefix from the base table via embedding[1:16],
    * so verification stays fully independent.
    */
  private[graft] val MrlPrefix = "graft_mrl_prefix"

  private def mrlPrefix(s: SparkSession, d: String): DataFrame =
    Tables.stagedTable(s, MrlPrefix, d, Tables.fingerprint(d, "embeddings")) {
      Tables.t(s, d, "embeddings").select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb16"))
    }

  /** The staged (doc_id, sim) signature table for `d` — a Spark-side
    * PERFORMANCE artifact only: occurrence-weighted 64-bit simhash in a
    * single-pass JVM kernel (set-based saturates on a small shared
    * vocabulary; the nested-HOF form of this is ~100× slower than the
    * primitive loop), run once per dataset fingerprint. The query's banding
    * reads it, but the ORACLE recomputes the md5-token-hash bit-vote
    * signature from the base table independently. The `md5sim` kernel tag
    * re-stages when the hash kernel changes.
    */
  private def simhashSigs(s: SparkSession, d: String): DataFrame =
    Tables.stagedTable(s, "graft_simhash_sig", d, "md5sim|" + Tables.fingerprint(d, "documents")) {
      val simhashUdf = udf { (text: String) =>
        val cnt = new Array[Int](64)
        // md5-derived per-token 64-bit hash: the first 8 digest
        // bytes big-endian == the first 16 hex chars both engines parse, so
        // the DuckDB oracle recomputes the whole signature independently
        val md = java.security.MessageDigest.getInstance("MD5")
        var start = 0
        val n = text.length
        var i = 0
        while (i <= n) {
          if (i == n || text.charAt(i) == ' ') {
            if (i > start) {
              md.reset()
              val dig = md.digest(text.substring(start, i)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              var h = 0L
              var k = 0
              while (k < 8) { h = (h << 8) | (dig(k) & 0xffL); k += 1 }
              var b = 0
              while (b < 64) {
                if (((h >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
                b += 1
              }
            }
            start = i + 1
          }
          i += 1
        }
        var sim = 0L
        var b = 0
        while (b < 64) { if (cnt(b) > 0) sim |= (1L << b); b += 1 }
        sim
      }
      Tables.spread(s, Tables.t(s, d, "documents"))
        .select(col("doc_id"), simhashUdf(col("text")).as("sim"))
    }

  /** FNV-1a 64-bit over UTF-8 bytes — deterministic token/gram hashing for
    * the JVM-kernel dedup paths (no RNG, no engine-specific hash).
    */
  private[llm] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Spark-round-compatible rounding (BigDecimal HALF_UP, like functions.round). */
  /** NaN passes through: BigDecimal.valueOf(NaN) THROWS, and similarity
    * kernels legitimately produce NaN for empty gram sets / zero vectors —
    * the callers' `>= tau` comparisons then drop it, matching the oracles'
    * NULL-comparison semantics.
    */
  private def round6(x: Double): Double =
    if (x.isNaN) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** All-pairs cosine ≥ tau over the embeddings, within each label when
    * `scope` is `Seq("label")`: [[Collapse]] to one representative per
    * distinct vector, the 8-block all-pairs kernel over representatives,
    * expansion back to (scope…, i, j, sim). The collapsed table feeds three
    * consumers, so it is checkpointed once per run.
    */
  private def cosinePairs(s: SparkSession, d: String, scope: Seq[String], tau: Double): DataFrame = {
    val sp = s
    import sp.implicits._
    val grouped = Ckpt.slot(s"$d#cos#${scope.mkString}#$tau",
      Collapse.groups(Tables.t(s, d, "embeddings"), "vec_id", "embedding",
        Seq("embedding"), scope: _*))
    val reps = grouped.select(scope.map(col).headOption.getOrElse(lit(0)),
        col("gid"), col("embedding"))
      .as[(Int, Long, Array[Float])]
    val pairs = Collapse.blockPairs(reps, B = 8, tau)(
        (e: Array[Float]) => Vectors.normed(e.map(_.toDouble)),
        (a: (Array[Double], Double), b: (Array[Double], Double)) => round6(Vectors.rawCosine(a, b)))
      .toDF("label", "ga", "gb", "sim")
      .select((scope :+ "ga" :+ "gb" :+ "sim").map(col): _*)
    Collapse.expand(grouped, pairs, "sim",
      Vectors.selfCos(col("embedding")), Some(tau), scope)
  }

  /** Word 5-gram shingle set over a pre-split token array column `w`
    * (documents with ≥5 tokens — callers filter `size(w) >= 5`). The split
    * array is staged ONCE as a column and the lambda indexes it with O(1)
    * element_at. Re-running split(text) (O(L)) plus an O(i) slice copy
    * INSIDE the per-position lambda is interpreted-HOF work quadratic in
    * document length, 2.3-4x slower on the gram keys at sf0.1.
    */
  private[llm] val gramsFromW =
    "transform(sequence(1, size(w) - 4), " +
      "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), " +
      "element_at(w, i+2), element_at(w, i+3), element_at(w, i+4)))"

  private[llm] val shinglesFromW = s"array_distinct($gramsFromW)"

  /** DuckDB BAND-THEN-VERIFY near-dup CTE chain (a brute-force all-pairs
    * oracle's O(N²) list-intersections are intractable at sf0.1):
    * recomputes the ENTIRE Spark pipeline from the base table — per-doc
    * distinct 5-gram strings, md5-derived signed-64 gram hashes, the
    * 64-perm HUGEINT signature fold (exact Udx.MinHashSig mirror, the
    * udaf_imperative_minhash discipline), 32-band × 2-perm RAW-SLICE
    * banding, candidate pairs via the band equi-join, exact Jaccard over
    * the deduped hash sets. Fully independent — no staged artifact.
    * DuckDB bands UNCOLLAPSED documents, provably the same final pair set
    * as the collapsed Spark plan: identical gram sets have identical
    * signatures (share all bands), and a cross pair band-matches iff its
    * representatives do; verification is exact either way. Oracle
    * complexity now matches the operator's own (banded, not all-pairs).
    * Exposes the final CTE `p` with columns (i, j, jac).
    */
  private def duckBandedNearPairs: String = {
    val U = "18446744073709551616::HUGEINT"
    val H = "9223372036854775808::HUGEINT"
    val perms = (0 until Udx.NumPerms).map { i =>
      s"((CAST(${Udx.permA(i)} AS HUGEINT) * h + CAST(${Udx.permB(i)} AS HUGEINT)) % $U + $U) % $U AS m$i"
    }.mkString(", ")
    val mins = (0 until Udx.NumPerms).map { i =>
      s"CAST(min(CASE WHEN m$i >= $H THEN m$i - $U ELSE m$i END) AS BIGINT)"
    }.mkString(", ")
    "w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "s0 AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]) AS sh " +
      "FROM w WHERE len(w) >= 5), " +
      "gr AS (SELECT doc_id, unnest(sh) AS g FROM s0), " +
      "hx AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 16)) AS UBIGINT) AS u FROM gr), " +
      s"hh AS (SELECT doc_id, CAST(CAST(u AS HUGEINT) - (CASE WHEN u >= $H THEN $U ELSE 0::HUGEINT END) AS BIGINT) AS h FROM hx), " +
      s"pm AS (SELECT doc_id, $perms FROM hh), " +
      s"sg AS (SELECT doc_id, [$mins] AS sig FROM pm GROUP BY doc_id), " +
      "bd AS (SELECT doc_id, r.b AS band, sig[2*r.b + 1] AS s1, sig[2*r.b + 2] AS s2 FROM sg, range(32) r(b)), " +
      "cd AS (SELECT DISTINCT a.doc_id AS i, c.doc_id AS j FROM bd a JOIN bd c " +
      "ON a.band = c.band AND a.s1 = c.s1 AND a.s2 = c.s2 AND a.doc_id < c.doc_id), " +
      "gh AS (SELECT doc_id, list_sort(list_distinct(list(h))) AS gh FROM hh GROUP BY doc_id), " +
      "pp AS (SELECT i, j, len(list_intersect(a.gh, c.gh)) AS inter, len(a.gh) AS na, len(c.gh) AS nc " +
      "FROM cd JOIN gh a ON a.doc_id = cd.i JOIN gh c ON c.doc_id = cd.j), " +
      "p AS (SELECT i, j, round(CAST(inter AS DOUBLE) / CAST(na + nc - inter AS DOUBLE), 6) AS jac FROM pp)"
  }

  /** L2's collapsed minhash state, shared by the pair query and the
    * component-clustering step: the [[Collapse]] groups of distinct gram
    * sets (`grouped`: gid, members, rep signature + gram hashes) and the
    * verified near-dup pairs over REPRESENTATIVES only (`matched`: ga < gb,
    * exact Jaccard ≥ 0.5). Both are checkpointed and memoized in the
    * [[Memo]] slot `minhash:<d>` under the documents fingerprint, so the
    * clustering query doesn't recompute the text→signature→band pipeline.
    * The pair query itself always recomputes (`fresh`) — bench repeats stay
    * honest — and swaps the fresh state in; the replaced entry's checkpoint
    * blocks are released by id.
    *
    * A G-member duplicate group has identical signatures, so uncollapsed,
    * every band matches and the kernel verifies G²/2 identical candidate
    * pairs, then propagates labels over a G²-edge clique.
    */
  private final case class MinhashState(
      grouped: DataFrame, matched: DataFrame, ids: Seq[Int])

  private def minhashState(s: SparkSession, d: String, fresh: Boolean): MinhashState = {
    val (slot, fp) = (s"minhash:$d", Tables.fingerprint(d, "documents"))
    val release = (st: MinhashState) => Ckpt.release(s, st.ids)
    if (fresh) Memo.put(s, slot, fp, minhashStateUncached(s, d), release)
    else Memo.get(s, slot, fp, release)(minhashStateUncached(s, d))
  }

  /** Word 5-gram Jaccard on 64-bit gram hashes, verified by a sorted-merge
    * intersection kernel — exact w.r.t. the hashed gram sets; equal to
    * string-set Jaccard absent an md5-64 collision inside one pair's union
    * (p < 10⁻¹³ at 10³ grams/doc — and the candidate set is tiny anyway).
    */
  private def minhashStateUncached(s: SparkSession, d: String): MinhashState = {
    // sig is a pure function of the gram hash set, so the representative's
    // signature bands for the whole group
    val (grouped, gIds) = Ckpt(Collapse.groups(
      docsSigGrams(s, d).toDF("doc_id", "sig", "gh"), "doc_id", "gh", Seq("sig", "gh")))
    val bands = Collapse.bands(grouped, "gid")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.s1") === col("y.s1") &&
          col("x.s2") === col("y.s2") && col("x.gid") < col("y.gid"))
      .where(expr("first_match_band(x.pre, y.pre, 2) = -1"))
      .select(col("x.gid").as("ga"), col("y.gid").as("gb"))
    val jacUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
      var ia = 0; var ib = 0; var inter = 0
      while (ia < a.length && ib < b.length) {
        val c = java.lang.Long.compare(a(ia), b(ib))
        if (c == 0) { inter += 1; ia += 1; ib += 1 }
        else if (c < 0) ia += 1
        else ib += 1
      }
      round6(inter.toDouble / (a.length + b.length - inter).toDouble)
    }
    val (matched, mIds) = Ckpt(cand
      .join(grouped.select(col("gid").as("ga"), col("gh").as("gha")), "ga")
      .join(grouped.select(col("gid").as("gb"), col("gh").as("ghb")), "gb")
      .withColumn("jac", jacUdf(col("gha"), col("ghb")))
      .where(col("jac") >= 0.5)
      .select(col("ga"), col("gb"), col("jac")))
    MinhashState(grouped, matched, gIds ++ mIds)
  }

  /** The all-pairs (i < j, jac) of the collapsed state; identical gram
    * sets are Jaccard exactly 1.0.
    */
  private def minhashNearPairs(st: MinhashState): DataFrame =
    Collapse.expand(st.grouped, st.matched, "jac", lit(1.0))

  /** md5-derived signed-64 hash of a string: first 8 digest bytes
    * big-endian — the same two's-complement value DuckDB computes as
    * `('0x' || substr(md5(x), 1, 16))::UBIGINT` re-centered at 2^63 (the
    * cross-engine hash toolkit). Callers pass a per-partition
    * MessageDigest (digest() resets it after each call).
    */
  private[llm] def md5hash64(md: java.security.MessageDigest, s: String): Long = {
    val dg = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(dg, 0, 8).getLong
  }

  /** (doc_id, minhash sig, sorted distinct 5-gram hashes) per document
    * with ≥5 tokens. split semantics match Spark/DuckDB `split(text, ' ')`
    * (interior AND trailing empties kept, hence the -1 limit). Gram hashes
    * are the md5-derived signed-64 values so the
    * DuckDB oracle can recompute the ENTIRE pipeline — hashes, 64-perm
    * signature, banding, exact Jaccard — from the base table, which is
    * what makes a band-then-verify (sf0.1-tractable) oracle possible.
    * One fused, narrow pass per document: each 5-gram is hashed on the fly
    * and folded into the signature, never materialized as a shingle string
    * (materializing shingle arrays and re-joining them measured 18 s).
    */
  private def docsSigGrams(
      s: SparkSession, d: String): org.apache.spark.sql.Dataset[(Long, Array[Long], Array[Long])] = {
    val sp = s
    import sp.implicits._
    // spread: the signature fold is a pure per-row JVM kernel — on the
    // local single-row-group scan it otherwise runs on ONE core
    Tables.spread(s, Tables.t(s, d, "documents").select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = text.split(" ", -1)
          if (toks.length < 5) Iterator.empty
          else {
            val sig = Udx.MinHashSig.zero
            val seen = new java.util.TreeSet[java.lang.Long]()
            var i = 0
            val last = toks.length - 5
            val sb = new java.lang.StringBuilder(64)
            while (i <= last) {
              sb.setLength(0)
              var k = 0
              while (k < 5) {
                if (k > 0) sb.append(' ')
                sb.append(toks(i + k)); k += 1
              }
              val h = md5hash64(md, sb.toString)
              if (seen.add(h)) Udx.MinHashSig.reduce(sig, h)
              i += 1
            }
            val gh = new Array[Long](seen.size)
            val itr = seen.iterator()
            var g = 0
            while (itr.hasNext) { gh(g) = itr.next(); g += 1 }
            Iterator((id, sig, gh))
          }
        }
      }
  }

  // ---- banded cosine threshold join (sim_join_lsh_threshold) ----

  private val LshJoinBands = 16
  private val LshJoinR = 12
  private val LshJoinTau = 0.9

  /** Frozen ±1 hyperplanes for the banded threshold join, 12 per band:
    * component (p, k) of plane p = band·12 + r is +1 iff the first hex char
    * of md5("pl<p>:<k>") is even — a seedless, engine-portable derivation
    * the JVM kernel and the DuckDB oracle compute identically (md5 is
    * bit-identical cross-engine; the first hex char is the high nibble of
    * digest byte 0).
    */
  private lazy val lshJoinPlanes: Array[Array[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(LshJoinBands * LshJoinR, 64) { (p, k) =>
      val dg = md.digest(s"pl$p:$k".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((dg(0) >>> 4) & 1) == 0) 1.0 else -1.0
    }.grouped(LshJoinR).toArray
  }

  /** embeddings ∪ jittered twins as (vec_id, emb DOUBLE[]): twin id =
    * -vec_id-1 (disjoint from any non-negative base id at any scale,
    * GenScale offsets included); twin noise is keyed on the ORIGINAL
    * vec_id and the 0-based component index. All arithmetic is
    * double multiply-add over exact small decimals, so both engines
    * produce bit-identical values.
    */
  private def lshJoinInput(s: SparkSession, d: String): DataFrame = {
    val e = Tables.spread(s, Tables.t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding")))
    val base = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val twin = e.select((-col("vec_id") - 1).as("vec_id"),
      expr("transform(embedding, (x, k) -> CAST(x AS DOUBLE) + " +
        "(CAST(conv(substring(md5(concat(CAST(vec_id AS STRING), ':', CAST(k AS STRING))), 1, 4), 16, 10) AS INT) % 21 - 10) / 1000.0)")
        .as("emb"))
    base.unionByName(twin)
  }

  /** Banded threshold join kernel: [[Collapse]] to distinct vectors → 16
    * band keys per representative (the 12-bit [[Vectors.signBits]] fold
    * over each band's frozen planes, bit-identical to the oracle's) → band
    * equi-join candidates → exact cosine verify ≥ τ → expansion back to
    * vec_id pairs.
    */
  private def lshJoinThreshold(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val grouped = Ckpt.slot(s"$d#lshjoin",
      Collapse.groups(lshJoinInput(s, d), "vec_id", "emb", Seq("emb")))
    // Each rep carries ALL 16 band keys (one JVM pass over the planes);
    // band rows then explode one (band, bkey) per band WITH the full key
    // vector as payload. This is what lets the candidate dedup below be
    // stateless.
    val keyed = grouped.select(col("gid"), col("emb"))
      .as[(Long, Array[Double])]
      .map { case (gid, emb) => (gid, lshJoinPlanes.map(Vectors.signBits(emb, _))) }
      .toDF("gid", "keys")
    val bandRows = keyed
      .select(col("gid"), col("keys"),
        explode(expr(s"sequence(0, ${LshJoinBands - 1})")).as("band"))
      .select(col("band"), expr("keys[band]").as("bkey"), col("gid"), col("keys"))
    // FIRST-MATCH-ONLY candidate dedup: a `.distinct()` would be a hash
    // aggregate holding EVERY candidate pair — ~2e-3·N² rows at the
    // sf10-distinct regime — which exhausts execution memory under the
    // 32-thread/16 g gate config. Emitting a
    // pair only from its LOWEST matching band (both sides carry all 16
    // keys; a pair whose earlier band also matches is dropped where it is
    // produced) yields the identical "shares ≥1 band" pair set with ZERO
    // dedup state: the band join streams, the filter is per-row, and peak
    // memory is bounded by one (band,bkey) SMJ buffer group (~N/4096 reps)
    // regardless of candidate mass. The check is the codegen
    // [[graft.udx.FirstMatchBand]] loop — zero allocation, early exit at
    // the join's own band — not a `NOT exists(zip_with(slice, slice))`
    // HOF, which allocates two slices and a zipped array PER CANDIDATE
    // (+37% s_per_pair at the sf10-distinct regime, BENCH_sf10.json).
    val cand = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.gid") < col("y.gid"))
      .where(expr("first_match_band(x.keys, y.keys, 1) = x.band"))
      .select(col("x.gid").as("ga"), col("y.gid").as("gb"))
    val verified = cand
      .join(grouped.select(col("gid").as("ga"), col("emb").as("ea")), "ga")
      .join(grouped.select(col("gid").as("gb"), col("emb").as("eb")), "gb")
      .withColumn("sim", Vectors.sim(col("ea"), col("eb")))
      .where(col("sim") >= LshJoinTau)
    Collapse.expand(grouped, verified.select(col("ga"), col("gb"), col("sim")), "sim",
      Vectors.selfCos(col("emb")), Some(LshJoinTau)).orderBy("i", "j")
  }

  /** Fully independent DuckDB mirror of [[lshJoinThreshold]]: jittered
    * twins, the 192 inlined ±1 plane lists (md5-parity-derived — the SAME
    * values lshJoinPlanes tabulates), 12-bit band-key folds, band
    * equi-join candidates, exact shared-accumulation cosine ≥ τ. DuckDB
    * bands UNCOLLAPSED vectors — same final pair set as the collapsed
    * Spark plan (identical vectors share all band keys; a cross pair
    * band-matches iff its representatives do).
    */
  private def lshJoinOracle: String = {
    val keyCols = lshJoinPlanes.zipWithIndex.map { case (planes, b) =>
      s"CAST(${Duck.signBits("emb", planes)} AS BIGINT) AS k$b"
    }.mkString(", ")
    val caseB = (0 until LshJoinBands).map(b => s"WHEN $b THEN k$b")
      .mkString("CASE r.b ", " ", " END")
    "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
      "tw AS (SELECT -vec_id - 1 AS vec_id, list_transform(embedding, (x, k) -> " +
      "CAST(x AS DOUBLE) + (CAST(('0x' || substr(md5(vec_id || ':' || (k - 1)), 1, 4)) AS INTEGER) % 21 - 10) / 1000.0) AS emb " +
      "FROM embeddings), " +
      "u AS (SELECT vec_id, emb FROM e0 UNION ALL SELECT vec_id, emb FROM tw), " +
      s"kk AS (SELECT vec_id, emb, $keyCols FROM u), " +
      s"bd AS (SELECT vec_id, r.b AS band, $caseB AS bkey FROM kk, range($LshJoinBands) r(b)), " +
      "cd AS (SELECT DISTINCT a.vec_id AS i, c.vec_id AS j FROM bd a JOIN bd c " +
      "ON a.band = c.band AND a.bkey = c.bkey AND a.vec_id < c.vec_id), " +
      s"p AS (SELECT i, j, ${Duck.sim("a.emb", "c.emb")} AS sim " +
      "FROM cd JOIN u a ON a.vec_id = cd.i JOIN u c ON c.vec_id = cd.j) " +
      s"SELECT i, j, sim FROM p WHERE sim >= $LshJoinTau ORDER BY i, j"
  }

  /** Exact per-source set-similarity self-join over sorted gram-hash
    * sets: [[Collapse]] to one representative per distinct (source, gram
    * set), the 4-block sorted-merge all-pairs kernel over representatives,
    * expansion back to (source, i, j, `outCol`). `score(|A|, |B|, |A∩B|)`
    * must be symmetric, with score(n, n, n) = 1 for n > 0. The collapsed table feeds three consumers and
    * Catalyst does not reuse the exchange across them (the typed lambdas
    * break subtree identity), so it is checkpointed once per run under
    * `cacheKey`.
    *
    * On distinct content the kernel pays O(max_source_reps²) by design, so
    * past [[GramPairMaxReps]] it fails fast, pointing at the banded
    * production siblings, instead of silently melting at corpus scale. The
    * cap admits the bench scales and a 10× distinct corpus (10⁴
    * reps/source ≈ 15 s); the count is one tiny aggregate over the already
    * checkpointed table.
    */
  private def gramPairs(
      sp: SparkSession,
      docs: Dataset[(String, Long, Array[Long])],
      score: (Int, Int, Int) => Double,
      tau: Double,
      outCol: String,
      cacheKey: String): DataFrame = {
    import sp.implicits._
    val grouped = Ckpt.slot(cacheKey, Collapse.groups(docs.toDF("source", "doc_id", "grams"),
      "doc_id", "grams", Seq("grams"), "source"))
    val maxReps = grouped.groupBy(col("source")).count()
      .agg(max(col("count"))).collect()(0)
    val maxRepsL = if (maxReps.isNullAt(0)) 0L else maxReps.getLong(0)
    require(maxRepsL <= GramPairMaxReps,
      s"gramPairs($outCol) is a declared-exact all-pairs kernel " +
        s"over distinct gram sets ($maxRepsL distinct contents in one " +
        s"source > $GramPairMaxReps cap); use the banded near-dup family " +
        "(dedup_minhash_near / dedup_simhash) or substring winnowing " +
        "(dedup_substring_winnow) at scale")
    val reps = grouped.select(col("source"), col("gid"), col("grams"))
      .as[(String, Long, Array[Long])]
    val pairs = Collapse.blockPairs(reps, B = 4, tau)((g: Array[Long]) => g,
        (ga: Array[Long], gb: Array[Long]) => {
          var x = 0; var y = 0; var shared = 0
          while (x < ga.length && y < gb.length) {
            if (ga(x) == gb(y)) { shared += 1; x += 1; y += 1 }
            else if (ga(x) < gb(y)) x += 1
            else y += 1
          }
          score(ga.length, gb.length, shared)
        })
      .toDF("source", "ga", "gb", outCol)
    // identical non-empty sets score 1.0 under a size-normalized set
    // similarity; the empty set's 0/0 never pairs
    val self = when(size(col("grams")) > 0, lit(1.0))
    Collapse.expand(grouped, pairs, outCol, self, Some(tau), Seq("source"))
      .orderBy("source", "i", "j")
  }

  /** Converged component labels, memoized in the [[Memo]] slot
    * `labels:<d>` like [[minhashState]]: `dedup_cluster_components` always
    * recomputes the propagation loop (`fresh` — bench repeats stay honest)
    * and swaps the result in; `dedup_corpus_filter` reuses the converged
    * labels instead of paying the whole loop a second time.
    * Entries are SELF-CONTAINED checkpoints (the expanded per-doc labels),
    * so a later minhash-state swap releasing `grouped`'s blocks cannot
    * orphan a memoized label entry's lineage. The replaced entry's
    * checkpoint blocks are released by id: localCheckpoint blocks are not
    * CacheManager entries, so DataFrame.unpersist() is a no-op on them, and
    * the ContextCleaner frees them only at a nondeterministic driver GC.
    */
  private def clusterLabels(s: SparkSession, d: String, fresh: Boolean): DataFrame = {
    val (slot, fp) = (s"labels:$d", Tables.fingerprint(d, "documents"))
    val release = (l: (DataFrame, Seq[Int])) => Ckpt.release(s, l._2)
    if (fresh) Memo.put(s, slot, fp, clusterLabelsUncached(s, d), release)._1
    else Memo.get(s, slot, fp, release)(clusterLabelsUncached(s, d))._1
  }

  /** Connected components over the near-dup pair graph: Spark-native
    * union-find via iterative min-label propagation with pointer doubling —
    * each round takes the min over neighbour labels (one node-keyed shuffle
    * join + combine-enabled min agg), then additionally adopts the label of
    * its current label-node (one more self-join), so rounds grow with
    * log₂(diameter) instead of diameter. The driver holds only the
    * convergence flag. Returns (node, label) plus the final checkpoint's
    * block ids; label = min reachable doc_id including self.
    *
    * Lineage MUST be truncated every round (`localCheckpoint`, eager):
    * each round references the previous labels twice (neighbour-min join +
    * self-join), so without truncation the analyzed plan DOUBLES per round
    * and driver-side analysis/canonicalization goes exponential — that, not
    * executor work, is what it costs (a re-count of fully cached labels
    * measured 15 s of pure driver time). With
    * truncation each round plans against a constant-size LogicalRDD. On a
    * real cluster you would use reliable `checkpoint()` (or a parquet
    * round-trip) instead for executor-loss tolerance. Superseded rounds'
    * blocks are released explicitly at round end, keeping live block count
    * O(1) in rounds — left to the ContextCleaner they pile up across runs
    * (+38% bench time on this key) and the hygiene test races driver GC.
    *
    * The loop runs in the caller's session and needs no conf of its own:
    * each round is 4-5 shuffle stages over the tiny verified pair graph,
    * and AQE coalesces each stage's `initialPartitionNum` reduce
    * partitions down to what the bytes need, so no partition cap is set.
    */
  private def clusterLabelsUncached(s: SparkSession, d: String): (DataFrame, Seq[Int]) = {
    // The loop runs over the COLLAPSED graph — gid nodes and
    // rep-verified edges — because every exact-dup group is a clique whose
    // members provably share their gid's converged label (gid = min member,
    // so min-reachable-doc_id over the expanded graph = min-reachable-gid);
    // propagating over the expanded clique edges does G² work per G-member
    // group (exponent 1.30 from sf1 to sf10). Multi-member groups enter the
    // node set even without cross-group edges: their members pair WITHIN
    // the group, so the oracle's reach-graph contains them.
    val st = minhashState(s, d, fresh = false)
    val gidPairs = st.matched.select(col("ga").as("i"), col("gb").as("j"))
    val cliqueNodes = st.grouped
      .where(size(col("members")) >= 2).select(col("gid").as("node"))
    val (edges, edgeIds) = Ckpt(gidPairs.union(gidPairs.select(col("j").as("i"), col("i").as("j"))))
    val allNodes = edges.select(col("i").as("node")).union(cliqueNodes)
    var (labels, labelIds) = Ckpt(
      allNodes.distinct().withColumn("label", col("node")))
    // One propagation step composed LINEAGE-ONLY (no action, no ckpt):
    // neighbour-min + pointer doubling, `prev` carried through untouched.
    // Inputs are checkpointed LogicalRDDs, so even the twice-composed plan
    // is a constant-size tree (the per-round exponential-lineage hazard
    // this loop ckpts against needs the plan to GROW round over round —
    // composition within one round is bounded). The self-join disambiguates
    // via a renamed projection (pn/pl are fresh attributes), never by
    // relying on checkpoint-fresh exprIds.
    def step(lbl: DataFrame): DataFrame = {
      val nm = edges.join(lbl, edges("j") === lbl("node"))
        .groupBy(edges("i").as("n2")).agg(min(col("label")).as("nlabel"))
      val h1 = lbl.as("lb").join(nm, col("lb.node") === nm("n2"), "left")
        .select(col("lb.node").as("node"), col("lb.prev").as("prev"),
          least(col("lb.label"), coalesce(col("nlabel"), col("lb.label"))).as("l1"))
      val byNode = h1.select(col("node").as("pn"), col("l1").as("pl"))
      h1.as("ha").join(byNode.as("hb"), col("ha.l1") === col("hb.pn"), "left")
        .select(col("ha.node").as("node"), col("ha.prev").as("prev"),
          least(col("ha.l1"), coalesce(col("hb.pl"), col("ha.l1"))).as("label"))
    }
    var changed = 1L
    while (changed > 0) {
      // TWO propagation rounds per Spark job: at
      // tiny data each round's cost is job submission + planning, not
      // executor work (decade-2 exponent −0.02), so composing two rounds
      // before the single materializing action halves the job count per
      // propagated round — and one iteration advances 2 neighbour hops
      // + 2 pointer chases, so iterations to converge shrink too. AQE's
      // exchange reuse dedupes the shared subtree between the composed
      // steps' self-joins. Semantically a no-op: the fixed point of the
      // double step is exactly the fixed point of the single step.
      val (updated, updatedIds) = Ckpt(
        step(step(labels.withColumn("prev", col("label"))))
          .select(col("node"), col("prev"), col("label")))
      changed = updated.where(col("label") < col("prev")).count()
      // the superseded labels are dead once `updated` is materialized:
      // free them before the next round
      Ckpt.release(s, labelIds)
      labels = updated.select(col("node"), col("label"))
      labelIds = updatedIds
    }
    Ckpt.release(s, edgeIds)
    // expand the converged gid labels to per-doc labels through the
    // membership table (bounded by the number of documents that appear in
    // any pair). The expansion is checkpointed so the cached entry survives
    // a later minhash-state swap releasing `grouped`'s blocks.
    val (expanded, expandedIds) = Ckpt(labels
      .join(Collapse.members(st.grouped).withColumnRenamed("gid", "node"), "node")
      .select(col("m").as("node"), col("label")))
    Ckpt.release(s, labelIds)
    (expanded, expandedIds)
  }

  val defs: Seq[QueryDef] = Seq(
    // L1 — exact dedup: keep min doc_id per content hash.
    QueryDef(
      "dedup_exact",
      Some(
        "SELECT sha256(text) AS h, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies " +
          "FROM documents GROUP BY 1 ORDER BY keep_id"),
      (s, d) =>
        Tables.t(s, d, "documents")
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id")),

    // L2 — MinHash + LSH near-dup: 5-gram shingles → 64-perm MinHash (K3
    // aggregator) → exact-dup collapse (one rep per distinct gram set) →
    // 32 bands × 2 raw-slice keys over reps → candidate pairs via band
    // equi-join → exact Jaccard verification ≥ 0.5 → expansion back to id
    // pairs (output-bounded). FULLY INDEPENDENT banded oracle (a
    // brute-force pair scan is quadratic and sf0.1-intractable):
    // DuckDB recomputes gram hashes, signatures, banding and the exact
    // verify from the base table ([[duckBandedNearPairs]]) — the oracle's
    // complexity matches the operator's, so the full-scale sweep can
    // include this key. Band recall at the planted-dup similarity (~0.9)
    // is 1 - (1-s²)³² ≈ 1 (identical sets always pair at Jaccard 1.0);
    // candidates are exactly verified in both engines.
    QueryDef(
      "dedup_minhash_near",
      Some(
        s"WITH $duckBandedNearPairs " +
          "SELECT i, j, jac FROM p WHERE jac >= 0.5 ORDER BY i, j"),
      (s, d) => minhashNearPairs(minhashState(s, d, fresh = true)).orderBy("i", "j")),

    // L2c — INCREMENTAL near-dup: a new ingest batch (doc_id %
    // 10 = 5 — a GenScale-stable split, 10⁹ ≡ 0 mod 10, chosen so the
    // batch demonstrably CONTAINS near-dup hits at the gate scale: an
    // all-novel output would let a broken kernel pass trivially) deduped
    // against the EXISTING corpus's banded MinHash
    // index — the near-dup twin of dedup_incremental_bloom (which is
    // exact-only). Production shape: the collapsed index (one banded
    // representative per distinct gram set) is the persisted artifact a
    // pipeline maintains between ingests; per batch doc the kernel emits
    // how many index docs it near-duplicates (5-gram Jaccard ≥ 0.5), the
    // best score, the smallest best-scoring index doc, and an is_novel
    // flag. Batch band keys equi-join the index bands — candidate work
    // scales with the BATCH, never re-pairing the corpus against itself;
    // batch-batch pairs are out of scope by definition (they dedup at the
    // next index rebuild). Verification is exact set intersection via
    // array_intersect over the sorted distinct gram hashes — a Catalyst
    // expression, no UDF. Oracle: fully independent — reuses the
    // band-then-verify CTE chain (all banded pairs from the base table)
    // and filters to batch↔index pairs, so both engines derive the same
    // result from opposite plan shapes.
    QueryDef(
      "dedup_incremental_minhash",
      Some(
        s"WITH $duckBandedNearPairs, " +
          "m AS (SELECT CASE WHEN i % 10 = 5 THEN i ELSE j END AS b, " +
          "CASE WHEN i % 10 = 5 THEN j ELSE i END AS o, jac FROM p " +
          "WHERE jac >= 0.5 AND ((i % 10 = 5) <> (j % 10 = 5))), " +
          "ag AS (SELECT b, CAST(count(*) AS BIGINT) AS n_dup, max(jac) AS best_jac FROM m GROUP BY b), " +
          "bm AS (SELECT m.b, CAST(min(m.o) AS BIGINT) AS best_match FROM m " +
          "JOIN ag ON m.b = ag.b AND m.jac = ag.best_jac GROUP BY m.b) " +
          "SELECT d.doc_id, CAST(coalesce(ag.n_dup, 0) AS BIGINT) AS n_dup, " +
          "CAST(coalesce(ag.best_jac, 0.0) AS DOUBLE) AS best_jac, " +
          "CAST(coalesce(bm.best_match, -1) AS BIGINT) AS best_match, " +
          "ag.b IS NULL AS is_novel " +
          "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 5) d " +
          "LEFT JOIN ag ON d.doc_id = ag.b LEFT JOIN bm ON d.doc_id = bm.b " +
          "ORDER BY d.doc_id"),
      (s, d) => {
        val base = docsSigGrams(s, d).toDF("doc_id", "sig", "gh")
        val isBatch = pmod(col("doc_id"), lit(10)) === 5
        val batch = base.where(isBatch)
        // collapsed index (batch excluded): the minhashState groups;
        // batch probe and index band rows both keep a candidate only at its
        // lowest matching band — no candidate `.distinct()` state
        val grouped = Collapse.groups(base.where(!isBatch), "doc_id", "gh", Seq("gh", "sig"))
        val ib = Collapse.bands(grouped, "gid")
        val bb = Collapse.bands(batch.withColumnRenamed("doc_id", "b"), "b")
        val cand = bb.as("x").join(ib.as("y"),
            col("x.band") === col("y.band") && col("x.s1") === col("y.s1") &&
              col("x.s2") === col("y.s2"))
          .where(expr("first_match_band(x.pre, y.pre, 2) = -1"))
          .select(col("x.b").as("b"), col("y.gid").as("gid"))
        val verified = cand
          .join(batch.select(col("doc_id").as("b"), col("gh").as("gha")), "b")
          .join(grouped.select(col("gid"), col("gh").as("ghb"), col("members")), "gid")
          .withColumn("inter", size(array_intersect(col("gha"), col("ghb"))))
          .withColumn("jac", round(col("inter") /
            (size(col("gha")) + size(col("ghb")) - col("inter")), 6))
          .where(col("jac") >= 0.5)
        val ag = verified.groupBy(col("b"))
          .agg(sum(size(col("members"))).cast("long").as("n_dup"),
            max(col("jac")).as("best_jac"))
        val bm = verified.join(ag, "b").where(col("jac") === col("best_jac"))
          .groupBy(col("b")).agg(min(col("gid")).as("best_match"))
        Tables.t(s, d, "documents").where(isBatch).select(col("doc_id"))
          .join(ag.withColumnRenamed("b", "doc_id"), Seq("doc_id"), "left")
          .join(bm.withColumnRenamed("b", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            coalesce(col("best_jac"), lit(0.0)).cast("double").as("best_jac"),
            coalesce(col("best_match"), lit(-1L)).as("best_match"),
            col("n_dup").isNull.as("is_novel"))
          .orderBy("doc_id")
      }),

    // Near-dup pairs → connected components: the step between "pairs" and
    // "keep one per cluster" in a production dedup pipeline (A~B, B~C must
    // collapse to ONE kept doc, which pairwise drops alone cannot do).
    // Spark-native union-find: iterative min-label propagation — each round
    // is one shuffle join on the node key; rounds ≈ component diameter
    // (near-dup clusters are tiny, 2-3 rounds); the driver holds only the
    // convergence flag. The oracle computes the same components via a
    // recursive transitive-closure CTE (viable at oracle scale only).
    QueryDef(
      "dedup_cluster_components",
      Some(
        s"WITH RECURSIVE $duckBandedNearPairs, " +
          "pe AS (SELECT i, j FROM p WHERE jac >= 0.5), " +
          "e AS (SELECT i, j FROM pe UNION SELECT j, i FROM pe), " +
          "reach(a, b) AS (SELECT i, j FROM e UNION " +
          "SELECT r.a, e.j FROM reach r JOIN e ON r.b = e.i) " +
          "SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cluster_rep " +
          "FROM reach GROUP BY a ORDER BY doc_id"),
      (s, d) =>
        clusterLabels(s, d, fresh = true)
          .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
          .orderBy("doc_id")),

    // End-to-end dedup corpus filter — the operator a training pipeline
    // actually runs: pairs → components → drop every cluster member except
    // its representative (min doc_id), keep all non-duplicated docs. One
    // left-anti join against the (tiny) non-representative set.
    QueryDef(
      "dedup_corpus_filter",
      Some(
        s"WITH RECURSIVE $duckBandedNearPairs, " +
          "pe AS (SELECT i, j FROM p WHERE jac >= 0.5), " +
          "e AS (SELECT i, j FROM pe UNION SELECT j, i FROM pe), " +
          "reach(a, b) AS (SELECT i, j FROM e UNION " +
          "SELECT r.a, e.j FROM reach r JOIN e ON r.b = e.i), " +
          "nonrep AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING least(a, min(b)) < a) " +
          "SELECT doc_id, source FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM nonrep) " +
          "ORDER BY doc_id"),
      (s, d) => {
        // label = min reachable doc_id (incl. self), so non-representative
        // ⟺ label < node
        val nonRep = clusterLabels(s, d, fresh = false).where(col("label") < col("node"))
          .select(col("node").as("doc_id"))
        Tables.t(s, d, "documents")
          .join(broadcast(nonRep), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      }),

    // SimHash near-dup: 64-bit signature from token hashes, 4×16-bit band
    // join, Hamming ≤ 3 verification (the only threshold for which 4×16-bit
    // banding guarantees full candidate recall by pigeonhole). FULLY
    // INDEPENDENT oracle: DuckDB recomputes the md5-token bit-vote
    // signature from the base table; the Spark-side signature pass — the
    // only non-SQL step — is staged once per dataset fingerprint
    // ([[simhashSigs]]), and both engines run banding + bit_count(xor) ≤ 3
    // over the signatures. The DuckDB side bands every doc (uncollapsed) — provably the
    // same pair set as the collapsed Spark plan: identical signatures share
    // all 4 bands (Hamming 0 ⊆ ≤3), and a cross pair band-matches iff its
    // representatives do. Key is memoized (SparkEntry.memoizedKeys): timed
    // repeats read the staged signatures, which is the production posture
    // for a signature artifact. LlmSpec additionally pins determinism and
    // agreement with minhash dups.
    QueryDef(
      "dedup_simhash",
      Some(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
          "u0 AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS u FROM tok WHERE tok <> ''), " +
          "v AS (SELECT doc_id, r.b AS b, sum(CASE WHEN (u >> CAST(r.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote " +
          "FROM u0, range(64) r(b) GROUP BY doc_id, r.b), " +
          "s0 AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN 1::HUGEINT << CAST(b AS INT) ELSE 0::HUGEINT END) AS us FROM v GROUP BY doc_id), " +
          "s AS (SELECT doc_id, CAST(us - (CASE WHEN us >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END) AS BIGINT) AS sim FROM s0), " +
          "b AS (SELECT doc_id, sim, r.p AS band, (sim >> (r.p * 16)) & 65535 AS bkey FROM s, range(4) r(p)), " +
          "p AS (SELECT DISTINCT a.doc_id AS i, c.doc_id AS j, " +
          "CAST(bit_count(xor(a.sim, c.sim)) AS BIGINT) AS hamming " +
          "FROM b a JOIN b c ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id) " +
          "SELECT i, j, hamming FROM p WHERE hamming <= 3 ORDER BY i, j"),
      (s, d) => {
        val sims = simhashSigs(s, d)
        // collapse on the full 64-bit signature: band join + Hamming
        // verify run over distinct signatures only
        val grouped = Collapse.groups(sims, "doc_id", "sim", Seq("sim"))
        val bands = grouped.select(col("gid"), col("sim"),
          explode(expr("transform(sequence(0, 3), p -> struct(p AS band, shiftright(sim, p*16) & 65535 AS bkey))")).as("bb"))
          .select(col("gid"), col("sim"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
        // First-match-only candidate dedup: the 4 bands are
        // 16-bit fields of the one `sim` long already on the band row, so
        // "an earlier band also matches" is pure bit arithmetic over
        // x.sim ^ y.sim — a pair is kept only where its LOWEST zero 16-bit
        // xor group equals the join's own band. Identical pair set as
        // a `.distinct()` (which holds every candidate pair in a hash
        // aggregate — peak_mb_distinct 258.5 at sf10, BENCH_sf10.json)
        // with zero state and zero extra shuffle payload.
        val repPairs = bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
              col("x.gid") < col("y.gid"))
          .where(expr(
            "CASE WHEN ((x.sim ^ y.sim) & 65535) = 0 THEN 0 " +
              "WHEN (shiftright(x.sim ^ y.sim, 16) & 65535) = 0 THEN 1 " +
              "WHEN (shiftright(x.sim ^ y.sim, 32) & 65535) = 0 THEN 2 " +
              "ELSE 3 END = x.band"))
          .select(col("x.gid").as("ga"), col("y.gid").as("gb"),
            expr("bit_count(x.sim ^ y.sim)").cast("long").as("hamming"))
          .where(col("hamming") <= 3)
        // identical signatures are Hamming 0
        Collapse.expand(grouped, repPairs, "hamming", lit(0L)).orderBy("i", "j")
      }),

    // n-gram Jaccard dedup: char 3-grams, scoped per source, τ = 0.8
    // (planted dups sit ≥ 0.9; background ≤ ~0.7 on this corpus).
    QueryDef(
      "dedup_ngram_jaccard",
      Some(
        "WITH g AS (SELECT doc_id, source, list_distinct([text[i:i+2] for i in range(1, length(text) - 1)]) AS gr FROM documents), " +
          "p AS (SELECT a.source AS source, a.doc_id AS i, b.doc_id AS j, " +
          "round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / " +
          "CAST(len(list_distinct(list_concat(a.gr, b.gr))) AS DOUBLE), 6) AS jac " +
          "FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id) " +
          "SELECT source, i, j, jac FROM p WHERE jac >= 0.8 ORDER BY source, i, j"),
      (s, d) => {
        // Exact per-source all-pairs over distinct gram sets
        // ([[gramPairs]]). LSH banding is
        // the wrong pruner HERE: this corpus's background char-3-gram
        // similarity (~0.7) sits just under τ=0.8, so any recall-complete
        // banding admits nearly every within-source pair as a candidate —
        // and a banded build measured 79 s at sf0.1 because the verify
        // joins shipped both gram arrays per candidate.
        val sp = s
        import sp.implicits._
        val grams = Tables.spread(s, Tables.t(s, d, "documents")
            .select(col("source"), col("doc_id"), col("text")))
          .as[(String, Long, String)]
          .map { case (src, id, text) =>
            val gset = new java.util.TreeSet[java.lang.Long]()
            var i = 0
            while (i + 3 <= text.length) { gset.add(fnv64(text.substring(i, i + 3))); i += 1 }
            val arr = new Array[Long](gset.size)
            val gi = gset.iterator(); var k = 0
            while (gi.hasNext) { arr(k) = gi.next(); k += 1 }
            (src, id, arr)
          }
        gramPairs(s, grams,
          (na, nb, sh) => round6(sh.toDouble / (na + nb - sh).toDouble),
          tau = 0.8, outCol = "jac", cacheKey = s"$d#jac")
      }),

    // Containment dedup: |A∩B| / min(|A|,|B|) over word 3-grams — the
    // asymmetric cousin of Jaccard that catches a document EMBEDDED in a
    // larger one (quotes, boilerplate wrappers, concat-of-docs), which
    // symmetric Jaccard dilutes below any usable τ. Same kernel as
    // dedup_ngram_jaccard ([[gramPairs]]), over word 3-gram sets. τ = 0.5 (background containment on this
    // corpus < 0.3, planted dups ≥ 0.9).
    QueryDef(
      "dedup_containment",
      Some(
        "WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents), " +
          "g AS (SELECT doc_id, source, " +
          "list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]) AS gr FROM w), " +
          "p AS (SELECT a.source AS source, a.doc_id AS i, b.doc_id AS j, " +
          "round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / " +
          "CAST(least(len(a.gr), len(b.gr)) AS DOUBLE), 6) AS cont " +
          "FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id " +
          "WHERE len(a.gr) > 0 AND len(b.gr) > 0) " +
          "SELECT source, i, j, cont FROM p WHERE cont >= 0.5 ORDER BY source, i, j"),
      (s, d) => {
        val sp = s
        import sp.implicits._
        val grams = Tables.spread(s, Tables.t(s, d, "documents")
            .select(col("source"), col("doc_id"), col("text")))
          .as[(String, Long, String)]
          .flatMap { case (src, id, text) =>
            val words = text.split(" ", -1)
            val gset = new java.util.TreeSet[java.lang.Long]()
            var i = 0
            while (i + 3 <= words.length) {
              gset.add(fnv64(words(i) + " " + words(i + 1) + " " + words(i + 2)))
              i += 1
            }
            if (gset.isEmpty) Seq.empty
            else {
              val arr = new Array[Long](gset.size)
              val gi = gset.iterator(); var k = 0
              while (gi.hasNext) { arr(k) = gi.next(); k += 1 }
              Seq((src, id, arr))
            }
          }
        gramPairs(s, grams,
          (na, nb, sh) => round6(sh.toDouble / math.min(na, nb).toDouble),
          tau = 0.5, outCol = "cont", cacheKey = s"$d#cont")
      }),

    // Embedding-cosine near-dup: pairs ≥ τ, emit the dropped (higher) ids.
    // EXACT by design (the oracle is all-pairs), hence quadratic — it is
    // the oracle anchor for semdedup, QUARANTINED behind a cardinality
    // guard so no scale tooling (or user) reaches the O(D²) kernel by
    // accident: above ExactCosineMaxRows the require() fails fast with a
    // pointer to dedup_semdedup_cluster (Ivf.scala), which scopes the same
    // verified kernel to k-means clusters.
    QueryDef(
      "dedup_embed_cosine",
      Some(
        "WITH p AS (SELECT a.vec_id AS i, b.vec_id AS j, " +
          s"${Duck.sim("a.embedding", "b.embedding")} AS sim " +
          "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) " +
          "SELECT DISTINCT j AS drop_id FROM p WHERE sim >= 0.35 ORDER BY drop_id"),
      (s, d) => {
        val n = Tables.t(s, d, "embeddings").count()
        require(n <= ExactCosineMaxRows,
          s"dedup_embed_cosine is the declared-exact O(N^2) oracle fixture " +
            s"($n rows > $ExactCosineMaxRows cap); use dedup_semdedup_cluster " +
            "at scale")
        cosinePairs(s, d, scope = Nil, tau = 0.35)
          .select(col("j").as("drop_id")).distinct()
          .orderBy("drop_id")
      }),

    // L3 — brute-force cosine top-5 for a fixed query set (broadcast the
    // 5-row query side; rank on the rounded sim for cross-engine ties).
    QueryDef(
      "sim_cosine_topk",
      Some(
        "WITH sims AS (SELECT q.vec_id AS qid, c.vec_id AS cid, " +
          s"${Duck.sim("q.embedding", "c.embedding")} AS sim " +
          s"FROM embeddings q JOIN embeddings c ON ${Duck.isQuery("q.vec_id")} AND c.vec_id != q.vec_id) " +
          Duck.topK("qid, cid, sim", "sims", "sim", 5) + " ORDER BY qid, rn"),
      (s, d) => {
        // spread: the per-pair interpreted cosine runs on the candidate
        // side — parallelize it off the single-row-group local scan
        val e = Tables.spread(s, Tables.t(s, d, "embeddings"))
        val q = e.where(Vectors.isQuery(col("vec_id"))).select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        Vectors.topK(c.join(broadcast(q), col("qid") =!= col("cid"))
            .select(col("qid"), col("cid"), Vectors.sim(col("qe"), col("ce")).as("sim")), "sim", 5)
          .orderBy("qid", "rn")
      }),

    // L4 — similarity threshold self-join scoped to label groups. EXACT BY
    // DESIGN and therefore quadratic on distinct content within a label:
    // tools/embed_geometry_probe.py measures this corpus as ~uniform on
    // the 64-dim unit sphere (top PC 2.8%, max pair cosine 0.38), where at
    // τ=0.35 NO recall-1 sub-quadratic method exists — d_τ=1.14 exceeds
    // every centroid separation (triangle-inequality cluster pruning is
    // vacuous) and sign-LSH at near-1 boundary recall admits ≥85% of
    // random pairs (ρ=0.70). Quarantined like dedup_embed_cosine behind
    // the same cardinality guard so no scale tooling reaches the O(d²)
    // kernel by accident; the production paths are sim_join_lsh_threshold
    // (banded near-dup join at a near-dup τ, provable per-pair recall
    // bound) and dedup_semdedup_cluster (cluster-scoped dedup).
    QueryDef(
      "sim_join_threshold",
      Some(
        "SELECT CAST(a.label AS BIGINT) AS label, a.vec_id AS i, b.vec_id AS j, " +
          s"${Duck.sim("a.embedding", "b.embedding")} AS sim " +
          "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id " +
          s"WHERE ${Duck.sim("a.embedding", "b.embedding")} >= 0.35 " +
          "ORDER BY label, i, j"),
      (s, d) => {
        val n = Tables.t(s, d, "embeddings").count()
        require(n <= ExactCosineMaxRows,
          s"sim_join_threshold is the declared-exact label-blocked O(d^2) " +
            s"oracle fixture ($n rows > $ExactCosineMaxRows cap); use " +
            "sim_join_lsh_threshold or dedup_semdedup_cluster at scale")
        cosinePairs(s, d, scope = Seq("label"), tau = 0.35)
          .select(col("label").cast("long").as("label"), col("i"), col("j"), col("sim"))
          .orderBy("label", "i", "j")
      }),

    // L4b — BANDED cosine threshold join, the production sibling of the
    // exact fixture above: sign-LSH candidate generation (16 bands × 12
    // frozen ±1 hyperplanes) followed by exact verification of banded
    // candidates at τ=0.9 — the near-duplicate regime a threshold join is
    // actually run at over training corpora. Input is embeddings ∪ one
    // deterministically JITTERED twin per vector (twin id = -vec_id-1;
    // component noise ±0.010 keyed on md5(vec_id:dim), giving each base a
    // true partner at cosine ≈ 0.9988 while cross pairs stay < 0.4), so
    // the operator has a non-trivial, analytically-known answer at every
    // scale. Semantics: a τ-pair is emitted iff it shares ≥1 of 16 band
    // keys; per-pair miss probability (1-p^12)^16 with p = 1-θ/π — 6.6%
    // at exactly τ=0.9, < 1e-12 at the twins' 0.9988, so empirical recall
    // is 1 on this corpus. Precision is always 1 (survivors are exactly
    // verified). Scale posture: hashing is linear (192 codegen-free JVM
    // dots per vector over collapsed reps); candidate mass is
    // N²·2.4e-4·16 per band-collision for UNcorrelated pairs — the prune
    // factor that kills the O(d²) enumeration the exact fixture pays.
    // FULLY INDEPENDENT oracle: the ±1 planes derive from md5 parity
    // ("pl<p>:<k>"), so DuckDB recomputes jitter, planes, band keys,
    // candidates and the exact cosine from the base table alone.
    QueryDef(
      "sim_join_lsh_threshold",
      Some(lshJoinOracle),
      (s, d) => lshJoinThreshold(s, d)),

    // L4c — Matryoshka (MRL) coarse-search / fine-rerank funnel:
    // rank ALL candidates by cosine over the FIRST 16 of 64 dims (the 4×
    // cheaper truncated prefix an MRL-trained embedding is built to make
    // meaningful), keep top-20 per query, exactly re-rank those 20 by
    // full-dim cosine, emit top-5 — the standard two-stage serving funnel
    // where the expensive metric touches only a constant-size candidate
    // set per query. The coarse pass reads a PHYSICALLY narrower staged
    // prefix table (see [[MrlPrefix]]; slicing the wide column
    // in-flight would make the 4× IO claim semantic only);
    // the rerank is O(20) per query against the wide base column. Both
    // stages rank on sims rounded to 6 places under total orders (the
    // cross-engine tie discipline); the oracle derives the identical
    // prefix from the base table via embedding[1:16] — fully independent.
    QueryDef(
      "sim_mrl_rerank",
      Some(
        "WITH e AS (SELECT vec_id, embedding AS emb, embedding[1:16] AS emb16 FROM embeddings), " +
          s"q AS (SELECT vec_id AS qid, emb AS qe, emb16 AS qe16 FROM e WHERE ${Duck.isQuery("vec_id")}), " +
          s"coarse AS (SELECT q.qid, c.vec_id AS cid, ${Duck.sim("q.qe16", "c.emb16")} AS sim_coarse, " +
          "c.emb AS ce, q.qe AS qe FROM q JOIN e c ON c.vec_id != q.qid), " +
          s"top20 AS (${Duck.topK("*", "coarse", "sim_coarse", 20)}), " +
          s"rr AS (SELECT qid, cid, sim_coarse, ${Duck.sim("qe", "ce")} AS sim_full FROM top20) " +
          Duck.topK("qid, cid, sim_coarse, sim_full", "rr", "sim_full", 5) + " ORDER BY qid, rn"),
      (s, d) => {
        // Coarse stage: scans ONLY the staged 16-dim prefix table — the
        // 64-dim column physically never enters this (data-sized) pass.
        val pfx = Tables.spread(s, mrlPrefix(s, d))
        val q16 = pfx.where(Vectors.isQuery(col("vec_id")))
          .select(col("vec_id").as("qid"), col("emb16").as("qe16"))
        val c16 = pfx.select(col("vec_id").as("cid"), col("emb16").as("ce16"))
        val top20 = Vectors.topK(c16.join(broadcast(q16), col("qid") =!= col("cid"))
            .select(col("qid"), col("cid"), Vectors.sim(col("qe16"), col("ce16")).as("sim_coarse")),
            "sim_coarse", 20)
          .select(col("qid"), col("cid"), col("sim_coarse"))
        // Fine rerank: the wide column is read only for the ≤ 20·|Q|
        // surviving candidates (+ |Q| query vectors) — both tiny sides
        // broadcast against the base scan, so the rerank's wide-column IO
        // is bounded by the funnel width at any corpus size.
        val e = Tables.t(s, d, "embeddings")
        val qf = e.where(Vectors.isQuery(col("vec_id")))
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val cf = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        Vectors.topK(cf.join(broadcast(top20), "cid")
            .join(broadcast(qf), "qid")
            .select(col("qid"), col("cid"), col("sim_coarse"),
              Vectors.sim(col("qe"), col("ce")).as("sim_full")), "sim_full", 5)
          .orderBy("qid", "rn")
      }),

    // Hybrid-retrieval rank fusion (RRF, k=60): the step that combines a
    // lexical ranking (BM25-family term scores) with a vector ranking
    // (embedding cosine) in every RAG / retrieval pipeline — neither list
    // alone is the answer; reciprocal-rank fusion is the standard
    // score-free combiner. Both lists are top-50 TakeOrdered results
    // (never a global sort); rank assignment is a single-partition window
    // whose input is the LIMIT-50 output — bounded by construction, the
    // skyline_pareto/shard_balance discipline (PlanAudit allowlists
    // exactly 2). The fusion itself is a full-outer join of two ≤50-row
    // sides and is O(k) at ANY corpus size — at 100 TB the ranking scans
    // are the only data-sized work, and each is one pruned scan + one
    // TakeOrdered. RRF contributions in exact integer micro-units
    // (1e9 DIV (60+rank)) so the fused ordering can't tie-flip on IEEE
    // addition; ranks come from round(·,6) scores under total orders, the
    // established cross-engine discipline.
    QueryDef(
      "rank_rrf_fusion",
      Some(
        "WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents), " +
          "lex AS (SELECT doc_id, 2 * len(list_filter(toks, x -> x = 'vector')) + " +
          "len(list_filter(toks, x -> x = 'stream')) AS lscore FROM tok), " +
          "lr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY lscore DESC, doc_id) AS BIGINT) AS r_lex " +
          "FROM lex WHERE lscore > 0 QUALIFY r_lex <= 50), " +
          "vs AS (SELECT c.vec_id AS doc_id, " +
          s"${Duck.sim("q.embedding", "c.embedding")} AS sim " +
          "FROM embeddings c JOIN embeddings q ON q.vec_id = 0 AND c.vec_id <> 0), " +
          "vr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS r_vec " +
          "FROM vs QUALIFY r_vec <= 50) " +
          "SELECT coalesce(lr.doc_id, vr.doc_id) AS doc_id, r_lex, r_vec, " +
          "coalesce(1000000000 // (60 + r_lex), 0) + coalesce(1000000000 // (60 + r_vec), 0) AS rrf_micro " +
          "FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.doc_id " +
          "ORDER BY rrf_micro DESC, doc_id LIMIT 20"),
      (s, d) => {
        // Lexical side: integer term-frequency score from one narrow HOF
        // pass (the rank_bm25_topk tokenizer), top-50 via TakeOrdered.
        val lexTop = Tables.spread(s, Tables.t(s, d, "documents"))
          .select(col("doc_id"),
            expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").as("toks"))
          .select(col("doc_id"),
            (expr("size(filter(toks, x -> x = 'vector'))").cast("long") * 2 +
              expr("size(filter(toks, x -> x = 'stream'))").cast("long")).as("lscore"))
          .where(col("lscore") > 0)
          .orderBy(col("lscore").desc, col("doc_id"))
          .limit(50)
        val lr = lexTop
          .withColumn("r_lex",
            row_number().over(Window.orderBy(col("lscore").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("r_lex"))
        // Vector side: cosine against the vec_id-0 query embedding (1-row
        // constant-key broadcast — see doc_tfidf_topk for the unfoldable
        // `when` key), top-50 via TakeOrdered.
        val e = Tables.spread(s, Tables.t(s, d, "embeddings"))
        val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
        val vecTop = e.where(col("vec_id") =!= 0)
          .withColumn("k", when(col("vec_id") >= 0, 0L))
          .join(broadcast(q.withColumn("k", when(size(col("qe")) >= 0, 0L))), "k")
          .withColumn("sim", Vectors.sim(col("qe"), col("embedding")))
          .select(col("vec_id").as("doc_id"), col("sim"))
          .orderBy(col("sim").desc, col("doc_id"))
          .limit(50)
        val vr = vecTop
          .withColumn("r_vec",
            row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("r_vec"))
        lr.join(vr, Seq("doc_id"), "full_outer")
          .withColumn("rrf_micro",
            coalesce(expr("1000000000 DIV (60 + r_lex)"), lit(0L)) +
              coalesce(expr("1000000000 DIV (60 + r_vec)"), lit(0L)))
          .orderBy(col("rrf_micro").desc, col("doc_id"))
          .limit(20)
          .select("doc_id", "r_lex", "r_vec", "rrf_micro")
      }),

    // LSH-bucketed ANN: 8 fixed pseudo-random hyperplanes → 8-bit bucket,
    // MULTI-PROBE on the query side: the probe radius is the recall/cost
    // knob. At this corpus's weak-signal angles (true neighbours near
    // cosine 0.45 ≈ 63°, each plane sign flips with p ≈ θ/π ≈ 0.35),
    // same-bucket recall is 0.65⁸ ≈ 0.03 — so probe all buckets within
    // Hamming ≤ 2 (37/256 of the space, candidate-recall ≈ 0.43 in theory;
    // measured end-to-end top-k recall ≈ 0.16 because near-tie background
    // sims crowd the top-3 cut). sign-LSH fundamentally tops out here;
    // sim_ann_ivf (k-means inverted file, recall ≈ 0.93) is the preferred
    // scale path. FULLY INDEPENDENT oracle: the seed-42 hyperplanes inline into the SQL as [±1.0,…] lists,
    // so DuckDB recomputes the 8-plane sign fold from the base table with
    // list_dot_product (bit-identical sequential accumulation — the
    // cosine discipline), then runs the same multi-probe xor join +
    // 6-dp-rounded exact cosine rank. The staged bucket table remains a
    // Spark-side performance artifact only. OpsSpec keeps measuring
    // recall vs brute force. Key is memoized (staged layout).
    QueryDef(
      "sim_ann_lsh",
      Some {
        val masks = (0 until 256).filter(m => Integer.bitCount(m) <= 2).mkString(", ")
        val fold = Duck.signBits(Duck.doubles("embedding"), LshPlanes)
        s"WITH bk AS (SELECT vec_id, CAST($fold AS INT) AS bucket FROM embeddings), " +
          "e AS (SELECT emb.vec_id, emb.embedding, bk.bucket FROM embeddings emb JOIN bk USING (vec_id)), " +
          s"q AS (SELECT e.vec_id AS qid, e.embedding AS qe, CAST(xor(e.bucket, t.m) AS INT) AS bucket " +
          s"FROM e, unnest([$masks]) AS t(m) WHERE ${Duck.isQuery("e.vec_id")}), " +
          "sims AS (SELECT q.qid, c.vec_id AS cid, " +
          s"${Duck.sim("q.qe", "c.embedding")} AS sim " +
          "FROM q JOIN e c ON q.bucket = c.bucket AND q.qid != c.vec_id) " +
          Duck.topK("qid, cid, sim", "sims", "sim", 3) + " ORDER BY qid, rn"
      },
      (s, d) => {
        val e = Tables.spread(s, Tables.t(s, d, "embeddings"))
          .join(lshBuckets(s, d), "vec_id")
        val probeMasks = (0 until 256).filter(m => Integer.bitCount(m) <= 2)
        val q = e.where(Vectors.isQuery(col("vec_id")))
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            explode(expr(s"transform(array(${probeMasks.mkString(",")}), " +
              "m -> CAST(bucket ^ m AS INT))")).as("bucket"))
        val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("bucket"))
        Vectors.topK(c.join(broadcast(q), "bucket")
            .where(col("qid") =!= col("cid"))
            .select(col("qid"), col("cid"), Vectors.sim(col("qe"), col("ce")).as("sim")), "sim", 3)
          .orderBy("qid", "rn")
      }),

    // Per-label embedding centroid — the elementwise-mean building block of
    // SemDeDup-style semantic dedup and k-means seeding. posexplode splits
    // vector components so the mean is a plain (label, pos) hash aggregate
    // with map-side partials (shuffles only the 2-key partial sums, never
    // vectors); component sums run in exact decimal so shuffle merge order
    // can't perturb the double result.
    QueryDef(
      "embed_label_centroid",
      Some(
        "SELECT label, CAST(i - 1 AS INT) AS pos, " +
          "CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS c " +
          "FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i) " +
          "GROUP BY label, pos ORDER BY label, pos"),
      (s, d) =>
        Tables.t(s, d, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          // exact decimal sum (order-independent) → correctly-rounded double
          // → one IEEE division by n; no re-quantization afterwards, so both
          // engines produce bit-identical doubles (a post-division 6-dp
          // round would tie-break differently on *.5 boundaries)
          .agg((sum(col("v").cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("c"))
          .orderBy("label", "pos")),

    // int8 symmetric quantization of the embedding column — the standard 4×
    // storage/bandwidth shrink before ANN serving. Per-vector absmax scale,
    // q_i = round(x_i·127/absmax) ∈ [-127,127]; a pure narrow HOF pass
    // (codegen, no shuffle) at any scale. Quantized codes serialize to CSV
    // for the driver's hasher; absmax stays double (bit-identical in both
    // engines: float→double widening and elementwise IEEE ops only).
    QueryDef(
      "embed_quantize_int8",
      Some(
        "SELECT vec_id, amax, array_to_string(list_transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE) * 127 / amax) AS BIGINT)), ',') AS q FROM (" +
          "SELECT vec_id, list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS amax, embedding " +
          "FROM embeddings) WHERE amax > 0 ORDER BY vec_id"),
      (s, d) =>
        Tables.t(s, d, "embeddings")
          .select(col("vec_id"),
            expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("amax"),
            col("embedding"))
          .where(col("amax") > 0)
          .select(col("vec_id"), col("amax"),
            expr("array_join(transform(embedding, " +
              "x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127 / amax) AS BIGINT) AS STRING)), ',')").as("q"))
          .orderBy("vec_id")),

    // Quantized retrieval: top-5 by DEQUANTIZED cosine — the serving-side
    // pairing of embed_quantize_int8, done the way real vector stores do
    // it: quantize the L2-normalized vector (absmax int8 per vector), rank
    // by dot_int8 · scaleA · scaleB ≈ cosine. The integer dot is exact in
    // both engines and the per-vector scales are elementwise-IEEE doubles,
    // so scores are bit-identical cross-engine. Same broadcast-query shape
    // as L3; int codes cut candidate-side bandwidth 4×.
    QueryDef(
      "sim_topk_int8",
      Some(
        "WITH n AS (SELECT vec_id, list_transform(embedding, " +
          s"x -> CAST(x AS DOUBLE) / sqrt(${Duck.dot(Duck.doubles("embedding"), Duck.doubles("embedding"))})) AS nv " +
          "FROM embeddings), " +
          "q8 AS (SELECT vec_id, list_transform(nv, v -> CAST(round(v * 127 / amax) AS BIGINT)) AS q, amax / 127 AS scale " +
          "FROM (SELECT vec_id, nv, list_aggregate(list_transform(nv, v -> abs(v)), 'max') AS amax FROM n)), " +
          "sims AS (SELECT a.vec_id AS qid, b.vec_id AS cid, " +
          s"round(CAST(${Duck.dot("a.q", "b.q")} AS BIGINT) * a.scale * b.scale, 6) AS score " +
          s"FROM q8 a JOIN q8 b ON ${Duck.isQuery("a.vec_id")} AND b.vec_id != a.vec_id) " +
          Duck.topK("qid, cid, score", "sims", "score", 5) + " ORDER BY qid, rn"),
      (s, d) => {
        // spread: the normalize/quantize HOF chain is interpreted per-row
        // work — parallelize it off the single-row-group local scan
        val emb = col("embedding")
        val q8 = Tables.spread(s, Tables.t(s, d, "embeddings"))
          .select(col("vec_id"),
            transform(emb, x => x.cast("double") / sqrt(Vectors.dot(emb, emb))).as("nv"))
          .withColumn("amax", expr("array_max(transform(nv, v -> abs(v)))"))
          .select(col("vec_id"),
            expr("transform(nv, v -> CAST(round(v * 127 / amax) AS BIGINT))").as("q"),
            (col("amax") / 127).as("scale"))
        val q = q8.select(col("vec_id").as("qid"), col("q").as("qq"), col("scale").as("qs"))
          .where(Vectors.isQuery(col("qid")))
        val c = q8.select(col("vec_id").as("cid"), col("q").as("cq"), col("scale").as("cs"))
        Vectors.topK(c.join(broadcast(q), col("qid") =!= col("cid"))
            .select(col("qid"), col("cid"),
              round(Vectors.dotLong(col("qq"), col("cq")) * col("qs") * col("cs"), 6).as("score")),
            "score", 5)
          .orderBy("qid", "rn")
      }),

    // L5 — majority label among the 5 nearest neighbours (ties → min label).
    QueryDef(
      "knn_label_vote",
      Some(
        "WITH sims AS (SELECT q.vec_id AS qid, c.vec_id AS cid, CAST(c.label AS BIGINT) AS label, " +
          s"${Duck.sim("q.embedding", "c.embedding")} AS sim " +
          s"FROM embeddings q JOIN embeddings c ON ${Duck.isQuery("q.vec_id")} AND c.vec_id != q.vec_id), " +
          s"top5 AS (${Duck.topK("*", "sims", "sim", 5)}), " +
          "votes AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS n FROM top5 GROUP BY qid, label) " +
          "SELECT qid, label AS pred_label, n FROM votes " +
          "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY n DESC, label) = 1 ORDER BY qid"),
      (s, d) => {
        // spread: the per-pair interpreted cosine runs on the candidate
        // side — parallelize it off the single-row-group local scan
        val e = Tables.spread(s, Tables.t(s, d, "embeddings"))
        val q = e.where(Vectors.isQuery(col("vec_id"))).select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("label").cast("long").as("label"))
        val wVote = Window.partitionBy(col("qid")).orderBy(col("n").desc, col("label"))
        Vectors.topK(c.join(broadcast(q), col("qid") =!= col("cid"))
            .select(col("qid"), col("cid"), col("label"), Vectors.sim(col("qe"), col("ce")).as("sim")), "sim", 5)
          .groupBy("qid", "label").agg(count(lit(1)).as("n"))
          .withColumn("vr", row_number().over(wVote))
          .where(col("vr") === 1)
          .select(col("qid"), col("label").as("pred_label"), col("n"))
          .orderBy("qid")
      }),

    // L6 — top-20 terms per language by TF (stopword-filtered).
    QueryDef(
      "text_token_stats",
      Some(
        "WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents), " +
          "tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf FROM toks " +
          "WHERE term NOT IN ('the', 'a', 'of', 'and', 'to', 'in') AND length(term) > 0 GROUP BY lang, term) " +
          "SELECT lang, term, tf, CAST(row_number() OVER (PARTITION BY lang ORDER BY tf DESC, term) AS BIGINT) AS rn " +
          "FROM tf QUALIFY rn <= 20 ORDER BY lang, rn"),
      (s, d) => {
        val stop = Seq("the", "a", "of", "and", "to", "in")
        val w = Window.partitionBy(col("lang")).orderBy(col("tf").desc, col("term"))
        Tables.t(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("term"))
          .where(!col("term").isin(stop: _*) && length(col("term")) > 0)
          .groupBy("lang", "term").agg(count(lit(1)).as("tf"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 20)
          .orderBy("lang", "rn")
      }),

    // L7 — docs × lang matrix via Spark's pivot (explicit value list keeps
    // the plan a single pass; oracle is the portable conditional-agg form).
    QueryDef(
      "text_pivot_langs",
      Some(
        "SELECT source, " +
          "CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de, " +
          "CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en, " +
          "CAST(count(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es, " +
          "CAST(count(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr, " +
          "CAST(count(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh " +
          "FROM documents GROUP BY source ORDER BY source"),
      (s, d) =>
        Tables.t(s, d, "documents")
          .groupBy("source")
          .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("source")),

    // L8 — binary columns: UTF-8 encode, byte stats, base64 round-trip.
    QueryDef(
      "multimodal_binary",
      Some(
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
          "base64(encode(text)) AS b64, " +
          "decode(from_base64(base64(encode(text)))) = text AS rt_ok " +
          "FROM documents ORDER BY doc_id"),
      (s, d) =>
        Tables.t(s, d, "documents").select(
          col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
          // Spark's base64 emits MIME-style \r\n breaks every 76 chars;
          // strip them to match RFC 4648 output (what DuckDB emits).
          regexp_replace(base64(col("text").cast("binary")), "\r\n", "").as("b64"),
          (unbase64(base64(col("text").cast("binary"))).cast("string") === col("text")).as("rt_ok"))
          .orderBy("doc_id")),

    // Multimodal decode plumbing: opaque binary payload + typed metadata,
    // decoded per partition through a typed mapPartitions. PNG/JPEG payloads
    // decode FOR REAL (ImageKernel / javax.imageio, single-frame); other
    // payloads fall back to a deterministic stub derived from the byte
    // length (no video/audio demuxers in this container) — the corpus is
    // text, so the oracle computes the stub formulas.
    QueryDef(
      "multimodal_decode_stub",
      Some(
        "SELECT doc_id, CAST(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width, " +
          "CAST(64 + (octet_length(encode(text)) * 31) % 417 AS BIGINT) AS height, " +
          "CAST(1 + octet_length(encode(text)) % 7 AS BIGINT) AS n_frames " +
          "FROM documents ORDER BY doc_id"),
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, bytes) =>
              ImageKernel.dims(bytes) match {
                case Some((w, h)) => (id, w, h, 1L) // real still image: 1 frame
                case None =>
                  val n = bytes.length.toLong
                  (id, 64L + n % 577, 64L + (n * 31) % 417, 1L + n % 7)
              }
            }
          }
          .toDF("doc_id", "width", "height", "n_frames")
          .orderBy("doc_id")
      }),

    // Language-ID: per-lang token-frequency profiles (top-10, integer
    // weights) learned from the corpus, docs scored by exact integer sums —
    // deterministic across engines, no floating point anywhere.
    QueryDef(
      "text_langid",
      Some(
        "WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents), " +
          "prof AS (SELECT plang, tok, CAST(11 - rnk AS BIGINT) AS w FROM " +
          "(SELECT lang AS plang, tok, row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS rnk " +
          "FROM toks GROUP BY lang, tok) WHERE rnk <= 10), " +
          "scores AS (SELECT t.doc_id, p.plang, sum(p.w) AS score FROM toks t JOIN prof p ON t.tok = p.tok GROUP BY 1, 2), " +
          "pred AS (SELECT doc_id, plang FROM scores QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) = 1) " +
          "SELECT d.doc_id, pred.plang AS pred_lang, d.lang, pred.plang = d.lang AS correct " +
          "FROM pred JOIN documents d USING (doc_id) ORDER BY d.doc_id"),
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        // spread before the token explode: documents is a single-
        // split file at bench scales, so the explode + broadcast-join +
        // partial-agg stage otherwise runs on one core; spread is a no-op
        // on an already-wide scan.
        val toks = Tables.spread(s, docs)
          .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        val wProf = Window.partitionBy(col("plang")).orderBy(col("cnt").desc, col("tok"))
        val prof = toks.groupBy(col("lang").as("plang"), col("tok")).agg(count(lit(1)).as("cnt"))
          .withColumn("rnk", row_number().over(wProf))
          .where(col("rnk") <= 10)
          .select(col("plang"), col("tok"), (lit(11) - col("rnk")).cast("long").as("w"))
        val wPred = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("plang"))
        toks.join(broadcast(prof), "tok")
          .groupBy("doc_id", "plang").agg(sum(col("w")).as("score"))
          .withColumn("rn", row_number().over(wPred))
          .where(col("rn") === 1)
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("doc_id"), col("plang").as("pred_lang"), col("lang"),
            (col("plang") === col("lang")).as("correct"))
          .orderBy("doc_id")
      }),

    // Quality scoring: integer-scaled ratios (micro-units via integer
    // division) — exact in both engines, no decimal/double division.
    QueryDef(
      "text_quality",
      Some(
        "SELECT doc_id, n_toks, " +
          "(sum_len * 1000000) // n_toks AS avg_len_micro, " +
          "(n_stop * 1000000) // n_toks AS stop_ratio_micro, " +
          "(n_uniq * 1000000) // n_toks AS distinct_ratio_micro, " +
          "n_toks >= 20 AND (n_uniq * 1000000) // n_toks >= 100000 AS is_quality FROM " +
          "(SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, " +
          "CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS BIGINT) AS sum_len, " +
          "CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop, " +
          "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq FROM documents) " +
          "ORDER BY doc_id"),
      (s, d) => {
        // Sort-first (see text_repetition_filter): single HOF pass at
        // explicit width above the range sort, instead of twice at scan
        // width below it.
        val toks = split(col("text"), " ")
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_toks"),
            aggregate(transform(toks, x => length(x).cast("long")), lit(0L), (a, x) => a + x).as("sum_len"),
            size(filter(toks, x => x.isin("the", "a", "of", "and", "to", "in"))).cast("long").as("n_stop"),
            size(array_distinct(toks)).cast("long").as("n_uniq"))
          .select(
            col("doc_id"), col("n_toks"),
            expr("sum_len * 1000000 DIV n_toks").as("avg_len_micro"),
            expr("n_stop * 1000000 DIV n_toks").as("stop_ratio_micro"),
            expr("n_uniq * 1000000 DIV n_toks").as("distinct_ratio_micro"),
            (col("n_toks") >= 20 && expr("n_uniq * 1000000 DIV n_toks") >= 100000).as("is_quality"))
      }),

    // Repetition filter (Gopher/RefinedWeb-style quality rule): fraction of
    // duplicated tokens and duplicated word-5-grams per document, in exact
    // integer micro-units (float ratios don't hash-match across engines).
    // A narrow HOF pass; thresholds flag boilerplate/looped text.
    QueryDef(
      "text_repetition_filter",
      Some(
        "SELECT doc_id, n_toks, " +
          "CASE WHEN n_toks > 0 THEN (n_toks - nd_toks) * 1000000 // n_toks ELSE 0 END AS dup_tok_micro, " +
          "CASE WHEN n_grams > 0 THEN (n_grams - nd_grams) * 1000000 // n_grams ELSE 0 END AS dup_gram_micro, " +
          "n_grams > 0 AND (n_grams - nd_grams) * 1000000 // n_grams > 300000 AS is_repetitive FROM " +
          "(SELECT doc_id, CAST(len(w) AS BIGINT) AS n_toks, " +
          "CAST(len(list_distinct(w)) AS BIGINT) AS nd_toks, " +
          "CAST(len(g) AS BIGINT) AS n_grams, CAST(len(list_distinct(g)) AS BIGINT) AS nd_grams FROM " +
          "(SELECT doc_id, w, [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)] AS g " +
          "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))) " +
          "ORDER BY doc_id"),
      (s, d) => {
        // Sort-first: range-sort the raw (doc_id, text) rows and run
        // the gram/distinct HOFs once, post-sort, at explicit cluster
        // width. A kernel-then-orderBy shape pays the HOF pass twice
        // (range-bound sampling re-executes a shuffle-free child) and runs
        // it at scan width — documents ships as ONE parquet file, so that
        // is a single core regardless of executor count (sf10: 70 s, all
        // in one straggler task). Sort above a Project is also the barrier
        // that keeps the optimizer from sinking the HOFs back into the
        // scan stage (the winnowGrams lesson, Pipeline.scala:53).
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), col("w"),
            expr(s"CASE WHEN size(w) >= 5 THEN $gramsFromW ELSE array() END").as("g"))
          .select(col("doc_id"),
            size(col("w")).cast("long").as("n_toks"),
            size(array_distinct(col("w"))).cast("long").as("nd_toks"),
            size(col("g")).cast("long").as("n_grams"),
            size(array_distinct(col("g"))).cast("long").as("nd_grams"))
          .select(col("doc_id"), col("n_toks"),
            expr("CASE WHEN n_toks > 0 THEN (n_toks - nd_toks) * 1000000 DIV n_toks ELSE 0 END").as("dup_tok_micro"),
            expr("CASE WHEN n_grams > 0 THEN (n_grams - nd_grams) * 1000000 DIV n_grams ELSE 0 END").as("dup_gram_micro"),
            expr("n_grams > 0 AND (n_grams - nd_grams) * 1000000 DIV n_grams > 300000").as("is_repetitive"))
      }),

    // Token counting: whitespace split vs BPE-ish regex vs chars/4 estimate.
    QueryDef(
      "text_token_count",
      Some(
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws, " +
          "CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_re, " +
          "(length(text) + 3) // 4 AS n_est, CAST(length(text) AS BIGINT) AS len_chars, " +
          "n_chars, CAST(length(text) AS BIGINT) = n_chars AS len_ok " +
          "FROM documents ORDER BY doc_id"),
      (s, d) =>
        // Sort-first: the regex token pass runs once, post-sort.
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .select(
            col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_ws"),
            size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)")).cast("long").as("n_re"),
            expr("(length(text) + 3) DIV 4").as("n_est"),
            length(col("text")).cast("long").as("len_chars"),
            col("n_chars"),
            (length(col("text")).cast("long") === col("n_chars")).as("len_ok"))),

    // Fingerprinting: min-hash over char 8-grams (md5 text-min is engine-
    // portable) + whole-document md5.
    QueryDef(
      "text_fingerprint",
      Some(
        "SELECT doc_id, min(md5(substr(text, CAST(i AS INT), 8))) AS fp, md5(text) AS full_md5 " +
          "FROM (SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i FROM documents) " +
          "GROUP BY doc_id, text ORDER BY doc_id"),
      (s, d) =>
        // min-digest codegen loop: a transform(sequence) HOF materializes
        // ~40M interpreted md5-hex strings per sf0.1 pass (4.4 s under
        // full-result timing); the kernel takes the byte-
        // lexicographic min DIGEST (hex is order-preserving) and hex-encodes
        // once per doc. Equality vs the HOF pinned in OpsSpec.
        // Sort-first: the per-char md5 digest loop runs once at
        // explicit width above the range sort (the length filter stays
        // below it, at the scan).
        Tables.t(s, d, "documents")
          .where(length(col("text")) >= 8)
          .select(col("doc_id"), col("text"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .select(col("doc_id"),
            graft.udx.TextExpr.minGramMd5(s, col("text"), 8).as("fp"),
            md5(col("text")).as("full_md5")))
  )
}
