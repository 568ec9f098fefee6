package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The embedding family's vector arithmetic and its per-query top-k step,
  * written once per engine: JVM kernels, Spark columns and DuckDB text.
  *
  * Two rules make the engines agree bit for bit, and every form here keeps
  * them:
  *   - Fold order. A dot product (and a squared distance) multiplies in
  *     double and adds left to right in ascending index order, from 0.0.
  *     That is the order of DuckDB's `list_dot_product`, of Spark's
  *     `aggregate(zip_with(...))` and of the `while` loops below, so a
  *     score, a norm or a hyperplane sign is the same double in all three.
  *   - Ties. A retrieval score is rounded to 6 places ([[sim]]) and ranked
  *     by (score DESC, cid): a total order on the rounded value, so both
  *     engines keep the same k rows per query.
  */
private[graft] object Vectors {

  /** The retrieval keys' fixed query set: vec_id below this. */
  val NQueries = 5

  // ---- JVM kernels ----

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var k = 0
    while (k < a.length) { acc += a(k) * b(k); k += 1 }
    acc
  }

  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var k = 0
    while (k < a.length) { val d = a(k) - b(k); acc += d * d; k += 1 }
    acc
  }

  /** A vector with its L2 norm. */
  def normed(v: Array[Double]): (Array[Double], Double) = (v, math.sqrt(dot(v, v)))

  /** Cosine of two [[normed]] vectors. The dot is role-symmetric, so pair
    * orientation cannot change the value; the all-zero vector scores NaN,
    * which every `>= tau` drops.
    */
  def rawCosine(a: (Array[Double], Double), b: (Array[Double], Double)): Double =
    dot(a._1, b._1) / (a._2 * b._2)

  /** Sign-LSH key of `v`: bit r is set iff dot(v, planes(r)) >= 0. */
  def signBits(v: Array[Double], planes: Array[Array[Double]]): Long = {
    var bits = 0L
    var r = 0
    while (r < planes.length) {
      if (dot(v, planes(r)) >= 0.0) bits |= 1L << r
      r += 1
    }
    bits
  }

  // ---- Spark columns ----

  private def fold(a: Column, b: Column, zero: Column)(term: (Column, Column) => Column): Column =
    aggregate(zip_with(a, b, term), zero, _ + _)

  def dot(a: Column, b: Column): Column =
    fold(a, b, lit(0.0))((x, y) => x.cast("double") * y.cast("double"))

  /** [[dot]] of two integer arrays in a BIGINT accumulator: exact. */
  def dotLong(a: Column, b: Column): Column = fold(a, b, lit(0L))(_ * _)

  def sqDist(a: Column, b: Column): Column =
    fold(a, b, lit(0.0)) { (x, y) =>
      val d = x.cast("double") - y.cast("double")
      d * d
    }

  def cos(a: Column, b: Column): Column = dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The retrieval score: [[cos]] rounded to 6 places. */
  def sim(a: Column, b: Column): Column = round(cos(a, b), 6)

  /** A vector's [[sim]] with itself, the within-group score of a collapsed
    * embedding group: 1.0 for any non-zero vector, and NULL for the
    * all-zero one, which never pairs.
    */
  def selfCos(e: Column): Column = {
    val d = dot(e, e)
    round(try_divide(d, sqrt(d) * sqrt(d)), 6)
  }

  def isQuery(id: Column): Column = id < NQueries

  /** The k best `(qid, cid)` pairs per query by (`score` DESC, cid), with
    * their rank as BIGINT `rn`. The `rn <= k` filter over the row_number
    * is the shape Spark's InferWindowGroupLimit turns into a Partial
    * WindowGroupLimit below the exchange and a Final one above it: each
    * partition keeps its own k per query before anything shuffles.
    */
  def topK(pairs: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(score).desc, col("cid"))
    pairs.withColumn("rn", row_number().over(w).cast("long")).where(col("rn") <= k)
  }

  // ---- DuckDB text ----

  object Duck {
    def doubles(v: String): String = s"CAST($v AS DOUBLE[])"

    def dot(a: String, b: String): String = s"list_dot_product($a, $b)"

    /** Cosine of two float or double lists, each cast to DOUBLE[] first, as
      * [[Vectors.dot]] casts each element.
      */
    def cos(a: String, b: String): String = {
      val (x, y) = (doubles(a), doubles(b))
      s"${dot(x, y)} / (sqrt(${dot(x, x)}) * sqrt(${dot(y, y)}))"
    }

    def sim(a: String, b: String): String = s"round(${cos(a, b)}, 6)"

    /** [[Vectors.signBits]] as a sum of `2^r` terms, the planes inlined. */
    def signBits(v: String, planes: Array[Array[Double]]): String =
      planes.zipWithIndex.map { case (pl, r) =>
        s"(CASE WHEN ${dot(v, pl.mkString("[", ",", "]"))} >= 0 THEN ${1L << r} ELSE 0 END)"
      }.mkString(" + ")

    def isQuery(id: String): String = s"$id < $NQueries"

    /** [[Vectors.topK]] over the `(qid, cid, score)` rows of `from`. */
    def topK(cols: String, from: String, score: String, k: Int): String =
      s"SELECT $cols, CAST(row_number() OVER (PARTITION BY qid ORDER BY $score DESC, cid) AS BIGINT) AS rn " +
        s"FROM $from QUALIFY rn <= $k"
  }
}
