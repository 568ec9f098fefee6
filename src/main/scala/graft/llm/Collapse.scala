package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import scala.reflect.runtime.universe.TypeTag

/** Exact-duplicate collapse for the pair-similarity keys (the near-dup,
  * similarity-join and component keys): rows with identical content
  * collapse to one representative, the pair kernel (block all-pairs, band
  * join) runs over representatives only, and matches expand back to row
  * ids. A G-member duplicate group otherwise makes every kernel pay G²/2
  * identical comparisons — replicated boilerplate is the common case in a
  * training corpus — so with the collapse, kernel work scales with
  * distinct content instead of row count.
  *
  * Identity key: an array's xxhash64 plus its size and first/last
  * elements. A bare 64-bit hash makes a collision expected at ~10^10
  * distinct contents, and a collision merges DISTINCT contents into one
  * representative (false pairs and missed pairs). The discriminators keep
  * the shuffle key O(1) bytes — unlike grouping by the full array — while
  * shrinking the collision surface to same-hash, same-length,
  * same-endpoint arrays. A scalar key (simhash's 64-bit signature) is used
  * as it is: there the key IS the content, and equal keys are by
  * definition a Hamming-0 pair.
  *
  * Expansion is bounded by the output: cross-group matches go through two
  * gid-keyed membership joins and within-group pairs are enumerated
  * directly, and the all-pairs semantics of every key demand those output
  * rows anyway.
  */
private[llm] object Collapse {

  /** One row per distinct `key` (per `scope` value): the scope columns,
    * `gid` = min member id, the sorted `members` ids and the first value
    * of each `payload` column. Payload columns must be functions of the
    * key (a representative's gram hashes, signature or vector), so
    * `first` is deterministic.
    */
  def groups(df: DataFrame, id: String, key: String, payload: Seq[String],
      scope: String*): DataFrame = {
    val k = col(key)
    val scalar = !df.schema(key).dataType.isInstanceOf[ArrayType]
    val identity =
      if (scalar) Seq(k)
      else Seq(xxhash64(k).as("_kh"), size(k).as("_kn"),
        try_element_at(k, lit(1)).as("_k0"), try_element_at(k, lit(-1)).as("_k1"))
    val firsts = payload.filterNot(p => scalar && p == key).map(p => first(col(p)).as(p))
    df.groupBy(scope.map(col) ++ identity: _*)
      .agg(sort_array(collect_list(col(id))).as("members"), firsts: _*)
      .select(scope.map(col) ++ Seq(col("members")(0).as("gid"), col("members")) ++
        payload.map(col): _*)
  }

  /** The membership view of [[groups]]: one (gid, m) row per member. */
  def members(grouped: DataFrame): DataFrame =
    grouped.select(col("gid"), explode(col("members")).as("m"))

  /** Representative pairs `(scope…, ga, gb, score)` back to row pairs
    * `(scope…, i, j, score)` with i < j: every member pair of each matched
    * group pair, plus the within-group pairs. Those score `self`, computed
    * once per group from the representative; a NaN `self`, or one below
    * `tau` when given, drops the group's pairs, as the per-pair comparison
    * would.
    */
  def expand(grouped: DataFrame, pairs: DataFrame, score: String, self: Column,
      tau: Option[Double] = None, scope: Seq[String] = Nil): DataFrame = {
    val sc = scope.map(col)
    val mem = members(grouped)
    val cross = pairs
      .join(mem.select(col("gid").as("ga"), col("m").as("ma")), "ga")
      .join(mem.select(col("gid").as("gb"), col("m").as("mb")), "gb")
      .select(sc ++ Seq(least(col("ma"), col("mb")).as("i"),
        greatest(col("ma"), col("mb")).as("j"), col(score)): _*)
    val within = grouped.where(size(col("members")) >= 2)
      .select(sc ++ Seq(col("members"), self.as(score)): _*)
      .where(tau.foldLeft(!isnan(col(score)))((ok, t) => ok && col(score) >= t))
      .select(sc ++ Seq(col("members"), col(score),
        posexplode(col("members")).as(Seq("x", "i"))): _*)
      .select(sc ++ Seq(col("i"),
        explode(expr("slice(members, x + 2, size(members))")).as("j"), col(score)): _*)
    cross.unionByName(within)
  }

  /** All pairs within each scope whose `score` is ≥ `tau`, as
    * (scope, ga, gb, score) with ga < gb. Representatives hash into B
    * blocks by gid; each unordered block pair (p ≤ q) of a scope is one
    * shuffle key, so a representative is replicated B ways and one big
    * scope spreads over B²/2 tasks instead of melting one (pick B so two
    * blocks fit an executor). Inside a task, `prep` runs once per
    * representative and `score` once per pair — a primitive-array JVM loop
    * where the interpreted higher-order-function form is ~50× slower.
    */
  def blockPairs[S: TypeTag, A: TypeTag, P](reps: Dataset[(S, Long, A)], B: Int,
      tau: Double)(prep: A => P, score: (P, P) => Double): Dataset[(S, Long, Long, Double)] = {
    val sp = reps.sparkSession
    import sp.implicits._
    reps
      .flatMap { case (sc, gid, a) =>
        val b = Math.floorMod(gid, B.toLong).toInt
        (0 until B).map { o =>
          val (p, q) = if (b <= o) (b, o) else (o, b)
          ((sc, p * B + q), gid, a)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val (sc, key) = k
        val diagonal = key / B == key % B
        val rows = it.toArray.sortBy(_._2).map { case (_, gid, a) =>
          (gid, Math.floorMod(gid, B.toLong), prep(a))
        }
        // diagonal group (p == q): all pairs within the block; off-diagonal:
        // only the cross pairs between its two blocks, so each unordered
        // pair meets in exactly one task (ascending gid makes ga < gb)
        val out = scala.collection.mutable.ArrayBuffer.empty[(S, Long, Long, Double)]
        var a = 0
        while (a < rows.length) {
          val (ia, ba, pa) = rows(a)
          var b = a + 1
          while (b < rows.length) {
            val (ib, bb, pb) = rows(b)
            if (diagonal || ba != bb) {
              val x = score(pa, pb)
              if (x >= tau) out += ((sc, ia, ib, x))
            }
            b += 1
          }
          a += 1
        }
        out
      }
  }

  /** MinHash band rows of a 64-perm signature column `sig`: 32 bands of a
    * RAW 2-perm slice (band, s1, s2) rather than a hash of it — an
    * engine-specific hash could only ADD candidates through collisions,
    * which a cross-engine banded oracle cannot reproduce. `pre` is the
    * signature prefix before the band: `first_match_band(x.pre, y.pre, 2)
    * = -1` keeps a candidate only at its lowest matching band, the same
    * pair set as a global `.distinct()` with no dedup state (a distinct
    * holds every candidate pair in a hash aggregate).
    */
  def bands(df: DataFrame, id: String): DataFrame =
    df.select(col(id), explode(expr("transform(sequence(0, 31), b -> struct(b AS band, " +
        "element_at(sig, b*2+1) AS s1, element_at(sig, b*2+2) AS s2, " +
        "slice(sig, 1, b*2) AS pre))")).as("bb"))
      .select(col(id), col("bb.band").as("band"), col("bb.s1").as("s1"),
        col("bb.s2").as("s2"), col("bb.pre").as("pre"))
}
