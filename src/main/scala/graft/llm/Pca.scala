package graft.llm

import graft.{QueryDef, Tables}
import graft.llm.Vectors.Duck
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Distributed PCA projection of the embedding column — the dimensionality
  * step in front of clustering/ANN when the stored dimension is wider than
  * the signal (and the standard preprocessing for SemDeDup-style pipelines).
  *
  * Shape, built for 100 TB:
  *   1. second-moment (gram) matrix + mean via per-partition primitive
  *      kernels: one dim×dim double array folds per partition, ≤
  *      numPartitions partials of bounded size return to the driver —
  *      vectors never shuffle, nothing explodes.
  *   2. covariance eigendecomposition on the driver: dim×dim doubles of
  *      bounded metadata (the IVF-centroid posture), deterministic power
  *      iteration with reorthogonalization, sign-canonicalized.
  *   3. projection as one narrow pass: the k×dim projection matrix
  *      inlines as literal arrays into [[Vectors.dot]] — no UDF, no
  *      broadcast variable, no shuffle.
  *
  * ORACLED via the staged eigenvector matrix (see [[Evecs]]) —
  * the eigensolve itself stays driver-side, but its OUTPUT is a staged
  * artifact both engines project from, so the projection is exact-checked.
  * OpsSpec keeps orthonormality, variance-optimality vs every coordinate
  * axis, and run-stable output.
  */
object Pca {

  private val K = 8
  private val PowerIters = 60

  /** Mean-centered covariance (dim×dim) of the embedding column via a
    * per-partition primitive kernel (the IVF centroid-update posture):
    * each partition folds its vectors into one dim×dim upper-triangle
    * gram + dim-length sum array in a tight double loop. The ≤
    * numPartitions partials (a few KB each) merge in a FIXED-STRUCTURE
    * tree keyed by partition index (fanout 32), so the driver holds
    * O(dim²) — never O(numPartitions·dim²) — and every level's combine
    * order is index-sorted, keeping the double-sum bit-deterministic for a
    * given input layout (a plain `treeReduce` merges in shuffle-arrival
    * order, which varies run to run). Products are float×float in double
    * (exact: 24+24 ≤ 53 mantissa bits). Vectors never shuffle — only
    * dim²-double partials move, log₃₂(numPartitions) levels deep.
    */
  private type GramPartial = (Int, Long, Array[Double], Array[Double])

  private def mergePartials(a: GramPartial, b: GramPartial): GramPartial = {
    val (dim, na, ga, sa) = a
    val (_, nb, gb, sb) = b
    var k = 0
    while (k < dim * dim) { ga(k) += gb(k); k += 1 }
    k = 0
    while (k < dim) { sa(k) += sb(k); k += 1 }
    (dim, na + nb, ga, sa)
  }

  private[graft] def covariance(s: SparkSession, d: String): (Array[Array[Double]], Long) = {
    val sp = s
    import sp.implicits._
    val fanout = 32
    var cur = Tables.t(s, d, "embeddings").select(col("embedding"))
      .as[Array[Float]]
      .rdd
      .mapPartitionsWithIndex { (pidx, it) =>
        var dim = -1
        var gram: Array[Double] = null
        var sums: Array[Double] = null
        var n = 0L
        it.foreach { v =>
          if (dim < 0) {
            dim = v.length
            gram = new Array[Double](dim * dim)
            sums = new Array[Double](dim)
          }
          var i = 0
          while (i < dim) {
            val vi = v(i).toDouble
            sums(i) += vi
            var j = i
            while (j < dim) { gram(i * dim + j) += vi * v(j); j += 1 }
            i += 1
          }
          n += 1
        }
        if (dim < 0) Iterator.empty
        else Iterator((pidx, (dim, n, gram, sums): GramPartial))
      }
    var width = cur.getNumPartitions
    while (width > 1) {
      val groups = (width + fanout - 1) / fanout
      cur = cur
        .map { case (i, p) => (i / fanout, (i, p)) }
        .groupByKey(groups)
        .map { case (g, ps) =>
          // index-sorted left fold: merge order is a pure function of the
          // input layout, not of task completion order
          (g, ps.toArray.sortBy(_._1).map(_._2).reduceLeft(mergePartials))
        }
      width = groups
    }
    val parts = cur.map(_._2).collect()
    require(parts.nonEmpty, "embed_pca_project needs a non-empty embeddings table " +
      s"for its eigen-solve: $d/embeddings.parquet has no rows")
    val (dim, n, sxy, sx) = parts.head
    // centering: cov = sxy/n - mean·meanᵀ (upper triangle mirrored)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val s2 = if (i <= j) sxy(i * dim + j) else sxy(j * dim + i)
      s2 / n - (sx(i) / n) * (sx(j) / n)
    }
    (cov, n)
  }

  /** Top-k eigenvectors of a symmetric matrix by power iteration with
    * per-step reorthogonalization against already-found vectors (so the
    * result is orthonormal to machine precision even on a degenerate tail
    * spectrum, where matrix deflation alone drifts). Deterministic: fixed
    * start vectors, fixed iteration count, sign canonicalized so the
    * largest-|component| entry is positive.
    */
  private[graft] def topEigenvectors(m: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val dim = m.length
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(i => { var acc = 0.0; var j = 0; while (j < dim) { acc += m(i)(j) * v(j); j += 1 }; acc })
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val done = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def reorth(w: Array[Double]): Array[Double] = {
      val u = w.clone()
      done.foreach { q =>
        var d = 0.0; var i = 0
        while (i < dim) { d += u(i) * q(i); i += 1 }
        i = 0; while (i < dim) { u(i) -= d * q(i); i += 1 }
      }
      val n = norm(u)
      if (n > 0) u.map(_ / n) else u
    }
    (0 until k).foreach { e =>
      // deterministic start: all components nonzero and index-dependent, so
      // it cannot be orthogonal to the sought eigenvector
      var v = reorth(Array.tabulate(dim)(i => 1.0 / (i + 2 + e)))
      for (_ <- 1 to PowerIters) v = reorth(matVec(v))
      val pivot = v.indices.maxBy(i => math.abs(v(i)))
      done += (if (v(pivot) < 0) v.map(-_) else v)
    }
    done.toArray
  }

  /** Staging name of the eigenvector matrix (the staged-signature oracle
    * discipline): the covariance fold + driver eigensolve — the only
    * non-SQL steps — run once per dataset fingerprint and the k×dim matrix
    * persists as parquet in its dataset's staging dir; BOTH engines
    * then project from the SAME staged doubles (Spark inlines them as
    * literals, DuckDB reads them as uncorrelated scalar subqueries, and
    * both take [[Vectors]]' dot product with its one fold order), so
    * even the float-heavy PCA key gets an exact cross-engine value check.
    */
  private val Evecs = "graft_pca_evecs"

  private def stagedEvecs(s: SparkSession, d: String): Array[Array[Double]] =
    Tables.stagedTable(s, Evecs, d, Tables.fingerprint(d, "embeddings")) {
      val sp = s
      import sp.implicits._
      topEigenvectors(covariance(s, d)._1, K).zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("kidx", "v").coalesce(1)
    }.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "embed_pca_project",
      Some {
        val cols = (0 until K).map(i =>
          s"round(${Duck.dot(Duck.doubles("e.embedding"), s"(SELECT v FROM pc WHERE kidx = $i)")}, 6) AS p$i")
          .mkString(", ")
        s"WITH pc AS (SELECT kidx, v FROM read_parquet('${Tables.stagedPath(Evecs, "data/*.parquet")}')) " +
          s"SELECT e.vec_id, $cols FROM embeddings e ORDER BY vec_id"
      },
      (s, d) => {
        val evecs = stagedEvecs(s, d)
        // projection matrix inlined as literals → one narrow HOF pass
        val projCols = evecs.zipWithIndex.map { case (row, kIdx) =>
          round(Vectors.dot(col("embedding"), typedLit(row)), 6).as(s"p$kIdx")
        }
        Tables.t(s, d, "embeddings")
          .select(col("vec_id") +: projCols.toIndexedSeq: _*)
          .orderBy("vec_id")
      })
  )
}
