package graft.udx

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** SURVEY §2.K — UDF / UDAF / UDTF surface.
  *
  * K2/K3 use the public typed `Aggregator` API (codegen-friendly buffers, no
  * Catalyst internals). K3's MinHash aggregator is shared with the LSH
  * near-dup pipeline (llm/Llm.scala L2).
  */
object Udx {

  /** K2 — geometric mean via log-sum buffer. */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), x: Double): (Double, Long) =
      (b._1 + math.log(x), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(r: (Double, Long)): Double =
      if (r._2 == 0) Double.NaN else math.exp(r._1 / r._2)
    def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** K3 — 64-permutation MinHash signature over a group of 64-bit element
    * hashes. Permutations are fixed affine maps a_i*h + b_i over Z/2^64 with
    * odd multipliers from a seeded splitmix-style sequence — deterministic
    * across runs and partitionings (min is order-independent).
    * At 100 TB this is a partial-aggregable sketch: each executor folds its
    * partition into 64 longs, merge is elementwise min.
    */
  final val NumPerms = 64
  private def splitmix(seed: Long): Iterator[Long] = Iterator.iterate(seed) { s =>
    var z = s + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }.drop(1)
  private[graft] val permA: Array[Long] = splitmix(42L).map(_ | 1L).take(NumPerms).toArray
  private[graft] val permB: Array[Long] = splitmix(4242L).take(NumPerms).toArray

  object MinHashSig extends Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.fill(NumPerms)(Long.MaxValue)
    def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var i = 0
      while (i < NumPerms) {
        val v = permA(i) * h + permB(i)
        if (v < buf(i)) buf(i) = v
        i += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < NumPerms) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Long] = r
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Mergeable bottom-k quantile sketch: keep the K (hash, value) pairs
    * with the smallest deterministic row hashes — a hash-ranked uniform
    * sample, so quantiles of the kept values estimate population quantiles
    * with ~1/√K rank error. Deterministic (no RNG: the hash IS the rank),
    * and exactly re-aggregable: bottom-k of a union equals bottom-k over
    * the per-group bottom-k's, so per-partition sketches merge losslessly —
    * the same property that makes HLL rollups cheap at 100 TB (only K
    * pairs ever shuffle on re-aggregation).
    */
  final val SketchK = 256
  object BottomK extends Aggregator[(Long, Double), Array[(Long, Double)], Array[(Long, Double)]] {
    private def compact(b: Array[(Long, Double)]): Array[(Long, Double)] =
      if (b.length <= SketchK) b else b.sortBy(_._1).take(SketchK)
    def zero: Array[(Long, Double)] = Array.empty
    def reduce(b: Array[(Long, Double)], x: (Long, Double)): Array[(Long, Double)] = {
      val appended = b :+ x
      if (appended.length >= 2 * SketchK) compact(appended) else appended
    }
    def merge(a: Array[(Long, Double)], b: Array[(Long, Double)]): Array[(Long, Double)] =
      compact(a ++ b)
    def finish(r: Array[(Long, Double)]): Array[(Long, Double)] = compact(r).sortBy(_._1)
    def bufferEncoder: Encoder[Array[(Long, Double)]] = ExpressionEncoder[Array[(Long, Double)]]()
    def outputEncoder: Encoder[Array[(Long, Double)]] = ExpressionEncoder[Array[(Long, Double)]]()
  }

  /** Misra-Gries heavy-hitters summary (FreqK counters). Stream update:
    * increment a present key, insert if room, else decrement every counter.
    * Merge: sum counters pairwise, then subtract the (FreqK+1)-th largest
    * count from all and drop non-positives — the mergeable-summaries
    * construction (Agarwal et al., PODS'12). Estimates are EXACT whenever
    * the distinct-key count ≤ FreqK (each count error is bounded by the
    * total decrement amount, which is then zero); otherwise each estimate
    * is within n/(FreqK+1) of truth. Buffers are ≤ FreqK entries, so
    * re-aggregation shuffles sketch-sized rows only — the frequent-items
    * twin of the HLL (agg_sketch_merge) and bottom-k (agg_quantile_merge)
    * summaries.
    */
  final val FreqK = 64
  private def mgTrim(m: Map[String, Long]): Map[String, Long] =
    if (m.size <= FreqK) m
    else {
      val thresh = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(FreqK)
      m.collect { case (k, v) if v > thresh => k -> (v - thresh) }
    }
  object FreqItems extends Aggregator[String, Map[String, Long], Array[(String, Long)]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], x: String): Map[String, Long] =
      b.get(x) match {
        case Some(v)                => b.updated(x, v + 1)
        case None if b.size < FreqK => b.updated(x, 1L)
        case None                   => b.collect { case (k, v) if v > 1 => k -> (v - 1) }
      }
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      mgTrim(b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) })
    def finish(r: Map[String, Long]): Array[(String, Long)] =
      r.toArray.sortBy { case (k, v) => (-v, k) }
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Array[(String, Long)]] = ExpressionEncoder[Array[(String, Long)]]()
  }

  /** Second-level merge of emitted (key, count) summary entries — the same
    * Misra-Gries merge, consumed as pairs so partial sketches re-aggregate
    * without re-reading data.
    */
  object FreqItemsMerge extends Aggregator[(String, Long), Map[String, Long], Array[(String, Long)]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], x: (String, Long)): Map[String, Long] =
      mgTrim(b.updated(x._1, b.getOrElse(x._1, 0L) + x._2))
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      FreqItems.merge(a, b)
    def finish(r: Map[String, Long]): Array[(String, Long)] = FreqItems.finish(r)
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Array[(String, Long)]] = ExpressionEncoder[Array[(String, Long)]]()
  }

  /** The staged minhash token-hash table — a Spark-side
    * PERFORMANCE artifact only: one (source, h) row per distinct token per
    * document, where h is the md5-derived signed-64 token hash (first 16
    * hex chars parsed unsigned, re-centered at 2^63 in exact decimal
    * math). Both engines compute the identical h, so the ORACLE rebuilds
    * the token table from `documents` itself. The `md5tok` kernel tag
    * names that hash: tokens hashed any other way must re-stage.
    */
  private def minhashToks(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.stagedTable(s, "graft_minhash_toks", d, "md5tok|" + Tables.fingerprint(d, "documents")) {
      val u = "CAST(conv(substring(md5(tok), 1, 16), 16, 10) AS DECIMAL(20,0))"
      Tables.t(s, d, "documents")
        .select(col("source"), explode(array_distinct(split(col("text"), " "))).as("tok"))
        .select(col("source"),
          expr(s"CAST($u - (CASE WHEN $u >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END) AS BIGINT)").as("h"))
    }

  /** FULLY INDEPENDENT DuckDB mirror:
    * rebuilds the (source, h) token table from `documents` — split on
    * space, md5-derived signed-64 h — then the 64-permutation min fold:
    * per perm i, v = wrap64(a_i·h + b_i) with Java two's-complement
    * semantics — a_i·h + b_i fits HUGEINT (|a·h| < 2^126), reduced mod
    * 2^64 and re-centered to signed — then min per source. Multiplicity
    * differences (distinct-per-doc vs raw) cannot affect a min fold.
    */
  private def minhashOracle: String = {
    val U = "18446744073709551616::HUGEINT"
    val H = "9223372036854775808::HUGEINT"
    val ms = (0 until NumPerms).map { i =>
      s"((CAST(${permA(i)} AS HUGEINT) * h + CAST(${permB(i)} AS HUGEINT)) % $U + $U) % $U AS m$i"
    }.mkString(", ")
    val mins = (0 until NumPerms).map { i =>
      s"CAST(min(CASE WHEN m$i >= $H THEN m$i - $U ELSE m$i END) AS BIGINT)"
    }.mkString(", ")
    "WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents), " +
      "u0 AS (SELECT source, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS u FROM tok), " +
      s"t AS (SELECT source, CAST(CAST(u AS HUGEINT) - (CASE WHEN u >= $H THEN $U ELSE 0 END) AS BIGINT) AS h FROM u0), " +
      s"e AS (SELECT source, $ms FROM t) " +
      s"SELECT source, array_to_string([$mins], ',') AS sig FROM e " +
      "GROUP BY source ORDER BY source"
  }

  val geomean = udaf(GeoMean, Encoders.scalaDouble)
  val minhash = udaf(MinHashSig, Encoders.scalaLong)
  val bottomk = udaf(BottomK, Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
  val freqitems = udaf(FreqItems, Encoders.STRING)
  val freqmerge = udaf(FreqItemsMerge, Encoders.tuple(Encoders.STRING, Encoders.scalaLong))

  /** K1 — registered scalar UDF (haversine km). Deterministic; the oracle
    * mirrors the identical IEEE formula, rounded to 3 dp to absorb libm ulps.
    */
  val haversineUdf = udf { (lat1: Double, lon1: Double, lat2: Double, lon2: Double) =>
    val r = 6371.0
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    2 * r * math.asin(math.sqrt(a))
  }

  val defs: Seq[QueryDef] = Seq(
    // K1 — scalar UDF over synthesized lat/lon (no geo columns in testdata;
    // coordinates are exact small decimals derived from keys).
    QueryDef(
      "udf_scalar_haversine",
      Some(
        "SELECT c_custkey, lat, lon, " +
          "round(2 * 6371 * asin(sqrt(pow(sin(radians(0 - lat) / 2), 2) + " +
          "cos(radians(lat)) * cos(radians(0)) * pow(sin(radians(0 - lon) / 2), 2))), 3) AS dist_km " +
          "FROM (SELECT c_custkey, CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5 AS lat, " +
          "CAST((c_nationkey * 7) % 360 - 180 AS DOUBLE) + 0.5 AS lon FROM customer) " +
          "ORDER BY c_custkey"),
      (s, d) => {
        s.udf.register("haversine_km", haversineUdf)
        Tables.t(s, d, "customer")
          .select(
            col("c_custkey"),
            ((col("c_custkey") % 180 - 90).cast("double") + 0.5).as("lat"),
            ((col("c_nationkey") * 7 % 360 - 180).cast("double") + 0.5).as("lon"))
          .withColumn("dist_km", round(expr("haversine_km(lat, lon, 0.0d, 0.0d)"), 3))
          .orderBy("c_custkey")
      }),

    // K2 — typed Aggregator registered as a UDAF.
    QueryDef(
      "udaf_typed_geomean",
      Some(
        "SELECT p_brand, round(exp(avg(ln(p_retailprice))), 3) AS geomean, " +
          "CAST(count(*) AS BIGINT) AS n FROM part GROUP BY p_brand ORDER BY p_brand"),
      (s, d) =>
        Tables.t(s, d, "part")
          .groupBy("p_brand")
          .agg(round(geomean(col("p_retailprice")), 3).as("geomean"), count(lit(1)).as("n"))
          .orderBy("p_brand")),

    // K3 — MinHash signature per document source, ORACLED independently:
    // the md5 token hash is staged once per dataset fingerprint as a
    // Spark-side performance artifact, DuckDB recomputes it from
    // `documents` ([[minhashOracle]]) and reproduces each of the 64 affine
    // permutations' wrapping 64-bit
    // arithmetic EXACTLY in HUGEINT — (a·h + b) fits in int128, reduce
    // mod 2^64, re-center to signed — and takes the same per-source mins
    // (probed value-for-value against Java wrap semantics before
    // adoption). The imperative typed-Aggregator path stays the Spark-side
    // operator under test; MinHashSpec keeps the determinism and
    // Jaccard-bound properties. Key is memoized (staged input layout).
    QueryDef(
      "udaf_imperative_minhash",
      Some(minhashOracle),
      (s, d) => {
        minhashToks(s, d)
          .groupBy("source")
          .agg(minhash(col("h")).as("sig_arr"))
          // CSV-serialized: the driver sorts even oracle-less Spark outputs,
          // and pandas sort_values crashes on array cells
          .select(col("source"), array_join(transform(col("sig_arr"), _.cast("string")), ",").as("sig"))
          .orderBy("source")
      }),

    // K4 — table-generating: one row per day of each order's month.
    QueryDef(
      "udtf_generate",
      Some(
        "SELECT o_orderkey, CAST(g AS DATE) AS day FROM (SELECT o_orderkey, " +
          "unnest(generate_series(CAST(date_trunc('month', o_orderdate) AS DATE), " +
          "last_day(CAST(o_orderdate AS DATE)), INTERVAL 1 DAY)) AS g FROM orders) " +
          "ORDER BY o_orderkey, day"),
      (s, d) =>
        // Sort-first: range-sort the narrow (o_orderkey, o_orderdate)
        // rows, then run the ~30x generate (4.5M output rows at sf0.1)
        // ONCE above the sort at explicit width — an explode-then-orderBy
        // shape re-executes the generate for the range-bound sampling
        // pass. o_orderkey is
        // unique and sequence() emits days ascending, so the exploded
        // output is exactly ORDER BY (o_orderkey, day).
        Tables.t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
          .select(
            col("o_orderkey"),
            explode(expr(
              "sequence(to_date(date_trunc('month', o_orderdate)), last_day(o_orderdate), interval 1 day)"))
              .as("day")))
  )
}
