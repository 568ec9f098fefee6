package graft

import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: replicates the driver's sf tables K×
  * (default 10×, i.e. sf0.1 → sf1) with consistent key offsets, so
  * per-query scaling exponents can be measured one decade above the bench
  * scale — the cheapest way to catch a quadratic kernel the sf0.1 bench
  * hides behind fixed overhead.
  *
  * One narrow scan per table: explode a literal 0..K-1 array, then shift
  * every key column by rep·10⁹ — larger than any base key so copies never
  * collide. 10⁹ ≡ 0 (mod 4) and (mod 10), so `% 4` / `% 10` key-bucketing
  * derivations survive replication EXACTLY; other moduli are NOT preserved
  * (10⁹ ≡ 6 mod 7, so e.g. a `doc_id % 7` derivation shifts per replica —
  * acceptable for a timing rehearsal, where only load shape matters, but
  * never compare rehearsal VALUES against base-scale oracles). Offsets
  * apply to BOTH sides of every PK/FK pair so referential integrity
  * (and therefore join fan-out per key) is exactly preserved. All value
  * distributions are preserved verbatim; text/embedding payloads repeat
  * exactly, so dedup operators see K-sized duplicate groups (work grows
  * K× per group — the intended linear-total load, never all-pairs).
  * Dimension tables (region/nation) stay 1×, like real dims at scale.
  *
  * DISTINCT-CONTENT MODE (arg 4 = "distinct"): string-identical
  * replication is collapse-absorbable — every dedup/sim kernel's
  * exact-dup collapse absorbs the replicas, so replicated rehearsals
  * measure the duplicate-heavy regime only and provably CANNOT see a
  * quadratic term on distinct content. Distinct mode mutates payload
  * content per replica (rep 0 stays verbatim):
  *   - documents.text: deterministic token salting — replica r suffixes
  *     "~r" onto every token at position p where p % 8 == r % 8. Each
  *     5-gram window then contains a salted position in ~5/8 of windows,
  *     so replica pairs land at shingle-Jaccard ≈ 0.1-0.4 — DISTINCT
  *     documents, not near-dups: true near-dup pair volume stays ~linear
  *     while collapse absorbs nothing.
  *   - embeddings.embedding: deterministic jitter — component k of a
  *     replica gets + (pmod(xxhash64(vec_id:k), 21) - 10)/500.0 (±0.02;
  *     vec_id is the SHIFTED id, so every replica jitters differently).
  *     Distinct floats at preserved geometry; replica balls sit at
  *     cosine ≈ 0.99 — genuine near-dup clusters of size K.
  * Values must still never be compared to base-scale oracles; distinct
  * mode is a TIMING rehearsal for the collapse-proof code paths.
  */
object GenScale {
  private val Off = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/testdata_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val distinct = args.lift(3).contains("distinct")
    val spark = Session()

    val keyCols = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    val dims = Seq("region", "nation")

    dims.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    keyCols.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val reps = df.withColumn("__rep", explode(lit((0 until k).toArray)))
      val shifted = keys.foldLeft(reps) { (d, c) =>
        d.withColumn(c, col(c) + col("__rep").cast("long") * Off)
      }
      val mutated =
        if (distinct && t == "documents")
          shifted.withColumn("text", expr(
            "CASE WHEN __rep = 0 THEN text ELSE concat_ws(' ', " +
              "transform(split(text, ' '), (tk, i) -> " +
              "CASE WHEN i % 8 = __rep % 8 THEN concat(tk, '~', CAST(__rep AS STRING)) ELSE tk END)) END"))
        else if (distinct && t == "embeddings")
          shifted.withColumn("embedding", expr(
            "CASE WHEN __rep = 0 THEN embedding ELSE transform(embedding, (x, k) -> " +
              "CAST(x + (pmod(xxhash64(concat(CAST(vec_id AS STRING), ':', CAST(k AS STRING))), 21) - 10) / 500.0 AS FLOAT)) END"))
        else shifted
      mutated.select(df.columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    spark.stop()
    println(s"""{"gen":"ok","src":"$src","dst":"$dst","k":$k,"mode":"${if (distinct) "distinct" else "replicate"}"}""")
  }
}
