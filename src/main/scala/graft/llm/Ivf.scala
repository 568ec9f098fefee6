package graft.llm

import graft.{Memo, QueryDef, Tables}
import graft.llm.Vectors.Duck
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the scale path for
  * similarity search alongside the LSH variant:
  *
  *   1. coarse quantizer: k-means over the embeddings (deterministic init =
  *      lowest-k vec_ids, fixed Lloyd iterations, min-id tie-break);
  *   2. index: every vector assigned to its nearest centroid (one shuffle
  *      by cluster id — this IS the inverted file);
  *   3. search: a query probes only the nprobe nearest clusters and ranks
  *      candidates by exact cosine.
  *
  * Centroids live on the driver between iterations (k × dim doubles — the
  * standard Spark k-means shape); assignment sweeps are executor-side
  * primitive-array kernels. At 100 TB the index is written partitioned by
  * cluster id so a probe reads nprobe partitions.
  */
object Ivf {

  private val K = 8
  private val Iters = 3
  private val NProbe = 2
  private val TopK = 3

  private val IndexName = "graft_ivf"

  /** The index's staging dir, one per dataset: [[Tables.stage]] rebuilds
    * it in place when the embeddings' fingerprint changes.
    */
  private[graft] def indexDir(d: String): String = Tables.stagingDir(IndexName, d)

  /** The cluster nearest to `v`: the strict-less ascending argmin, so the
    * lowest cluster wins a tie.
    */
  private def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val dd = Vectors.sqDist(v, cs(c)); if (dd < bestD) { bestD = dd; best = c }; c += 1
    }
    best
  }

  /** The [[NProbe]] clusters nearest to `v`, ascending by (squared
    * distance, cluster), as builtin expressions over the inlined centroid
    * matrix (Pca's projection posture): k×dim literals in the plan, no UDF.
    */
  private def probe(v: Column, centroids: Array[Array[Double]]): Column = {
    val byDist = centroids.zipWithIndex.map { case (c, i) =>
      struct(Vectors.sqDist(v, typedLit(c)).as("d2"), lit(i).as("cluster"))
    }
    transform(slice(sort_array(array(byDist.toIndexedSeq: _*)), 1, NProbe), _.getField("cluster"))
  }

  /** (vec_id, cluster) assignment DataFrame + final centroids. The IVF
    * index is a PERSISTED STORAGE ARTIFACT: centroids + assignments written
    * to parquet under [[indexDir]], assignments partitioned by cluster id —
    * so a probe reads nprobe partitions, a fresh session (or a fresh JVM)
    * loads the index with zero k-means jobs, and a regenerated dataset at
    * the same path (the GenScale rehearsal flow) misses the fingerprint and
    * rebuilds. The [[Memo]] slot over the loaded artifact saves
    * re-collecting the k×dim centroid table per invocation. OpsSpec asserts
    * the fresh-session load path plans no embeddings-scan jobs and that
    * recall is unchanged. graft-visible so the spec can assert the built
    * geometry (cluster count past the floor) on a replicated corpus.
    */
  private[graft] def index(s: SparkSession, d: String): (DataFrame, Array[Array[Double]]) = {
    val fp = Tables.fingerprint(d, "embeddings")
    Memo.get(s, s"ivf_index:$d", fp) {
      val dir = indexDir(d)
      Tables.stage(dir, fp)(buildIndex(s, d, dir))
      loadIndex(s, dir)
    }
  }

  /** Load the persisted index: k×dim centroid table (one tiny collect) +
    * the cluster-partitioned assignment scan. No k-means, no embeddings
    * scan — the fresh-session / fresh-JVM path.
    */
  private def loadIndex(s: SparkSession, dir: String): (DataFrame, Array[Array[Double]]) = {
    val centroids = s.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    val assigned = s.read.parquet(s"$dir/assign")
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
    (assigned, centroids)
  }

  private def buildIndex(s: SparkSession, d: String, dir: String): Unit = {
    val sp = s
    import sp.implicits._
    val rows = Tables.t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val n = rows.count()
    require(n > 0, s"sim_ann_ivf and dedup_semdedup_cluster need a non-empty embeddings " +
      s"table to build their IVF index: $d/embeddings.parquet has no rows")
    val vecs = rows.as[(Long, Array[Float])]
      .map { case (id, v) => (id, v.map(_.toDouble)) }
      .cache()
    // cluster count scales with the corpus (k ≈ N/10⁴, floor K): bounded
    // per-cluster population is what keeps the semdedup pair search at
    // Σn_c² ≪ N² as data grows — a CONSTANT k would let clusters grow
    // linearly and quietly re-quadratize the sibling. At test scales
    // (N ≤ 5·10⁴) the floor keeps k = 8, so ANN probe/recall tests stay
    // anchored to a fixed geometry. The seed collect below materializes
    // the vector cache.
    val k = math.max(K, (n / 10000L).toInt)
    var centroids: Array[Array[Double]] =
      vecs.filter(_._1 < k).collect().sortBy(_._1).map(_._2)
    for (_ <- 1 to Iters) {
      val bc = s.sparkContext.broadcast(centroids)
      // Centroid update with MAP-SIDE COMBINING (MLlib's treeAggregate
      // shape): each partition folds its vectors into at most K running
      // (sum, n) partials, so the exchange carries O(partitions × K) rows
      // instead of every vector. Shipping all N vectors to K=8 reducers
      // (groupByKey.mapGroups) would make the 8 hot reducers the whole job
      // at 100× scale; reduceGroups keeps a partial aggregation stage
      // before the K-row exchange.
      centroids = vecs
        .mapPartitions { it =>
          val cs = bc.value
          val sums = Array.fill(cs.length)(new Array[Double](64))
          val ns = new Array[Long](cs.length)
          it.foreach { case (_, v) =>
            val best = nearest(v, cs)
            val sm = sums(best)
            var i = 0; while (i < v.length) { sm(i) += v(i); i += 1 }
            ns(best) += 1L
          }
          Iterator.range(0, cs.length).filter(ns(_) > 0L)
            .map(c => (c, sums(c), ns(c)))
        }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val m = new Array[Double](64)
          var i = 0; while (i < 64) { m(i) = a._2(i) + b._2(i); i += 1 }
          (a._1, m, a._3 + b._3)
        }
        .map { case (cid, (_, sum, n)) => (cid, sum.map(_ / n)) }
        .collect().sortBy(_._1).map(_._2)
    }
    val bc = s.sparkContext.broadcast(centroids)
    // Persist the inverted file: the assignment write IS the single
    // materialization pass (the search side then reads the parquet, probe
    // build + candidate sweep both pruned by the cluster partition key);
    // release the cached vectors after — raw vectors must not stay pinned.
    vecs.map { case (id, v) => (id, nearest(v, bc.value)) }
      .toDF("vec_id", "cluster")
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$dir/assign")
    vecs.unpersist(blocking = false)
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** DuckDB re-derivation of every k-means DOWNSTREAM arithmetic step from
    * the index's own centroids table alone — the genuinely iterative Lloyd
    * output, read in [[indexDir]] of the dataset Verify resolves, so
    * assignment, probe selection and multi-assignment are cross-engine
    * checked instead of trusted. Squared distance is the [[Duck.dot]] of
    * the index-wise difference list with itself — the identical ascending
    * subtract/multiply/add double fold as [[Vectors.sqDist]], so values are
    * bit-identical — and ranks broken by cluster id, matching both the
    * kernel's strict-less ascending argmin ([[nearest]]: first best kept ⇒
    * lowest cluster on a tie) and the probe/multi-assign kernels'
    * (distance, cluster) sort. Exposes `rk(vec_id, cluster, rn)`: rn=1 is
    * the assignment, rn ≤ nprobe the probe set, rn ≤ nAssign the
    * multi-assignment.
    */
  private def duckAssignCtes: String =
    s"ct AS (SELECT cluster, centroid FROM read_parquet('${Tables.stagedPath(IndexName, "centroids/*.parquet")}')), " +
      "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
      s"dst AS (SELECT vec_id, cluster, ${Duck.dot("df", "df")} AS d2 FROM " +
      "(SELECT ev.vec_id, ct.cluster, [ev.e[i] - ct.centroid[i] for i in generate_series(1, 64)] AS df FROM ev, ct)), " +
      "rk AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM dst)"

  val defs: Seq[QueryDef] = Seq(
    // ORACLED via the index's CENTROIDS alone: DuckDB re-derives the
    // argmin assignment and the nprobe probe selection from the centroids
    // and the base table ([[duckAssignCtes]]) and then runs the identical
    // probe-cluster equi-join + 6-dp exact-cosine rank — only the Lloyd
    // iteration itself remains kernel-only. LlmSpec keeps checking recall
    // vs brute force and nprobe-bounded candidate sets. Key is memoized
    // (index artifact).
    QueryDef(
      "sim_ann_ivf",
      Some(
        s"WITH $duckAssignCtes, " +
          s"asg AS (SELECT vec_id, cluster FROM rk WHERE rn = 1), " +
          s"pr AS (SELECT vec_id AS qid, cluster FROM rk WHERE rn <= $NProbe AND ${Duck.isQuery("vec_id")}), " +
          "q AS (SELECT pr.qid, e.embedding AS qe, pr.cluster FROM pr JOIN embeddings e ON e.vec_id = pr.qid), " +
          "c AS (SELECT asg.vec_id AS cid, e.embedding AS ce, asg.cluster FROM asg JOIN embeddings e USING (vec_id)), " +
          s"sims AS (SELECT q.qid, c.cid, ${Duck.sim("q.qe", "c.ce")} AS sim " +
          "FROM c JOIN q USING (cluster) WHERE q.qid != c.cid) " +
          Duck.topK("qid, cid, sim", "sims", "sim", TopK) + " ORDER BY qid, rn"),
      (s, d) => {
        val (assigned, centroids) = index(s, d)
        val e = Tables.t(s, d, "embeddings")
        val withCluster = e.join(assigned, "vec_id")
        val q = withCluster.where(Vectors.isQuery(col("vec_id")))
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            explode(probe(col("embedding"), centroids)).as("cluster"))
        val cand = withCluster
          .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("cluster"))
        Vectors.topK(cand.join(broadcast(q), "cluster")
            .where(col("qid") =!= col("cid"))
            .select(col("qid"), col("cid"), Vectors.sim(col("qe"), col("ce")).as("sim")), "sim", TopK)
          .orderBy("qid", "rn")
      }),

    // SemDeDup-style cluster-first embedding dedup — the 100 TB path next
    // to the exact all-pairs operator (dedup_embed_cosine, which is
    // quadratic by design): the IVF coarse quantizer scopes the pair
    // search to clusters, so total work is Σ_c n_c² instead of N². Within
    // a cluster, pairs run through the same (cluster, block-pair)
    // shuffle-key kernel shape as the exact operator, so one giant cluster
    // spreads over B² tasks instead of melting one executor; at real scale
    // K grows with the corpus (K ≈ N/10⁴ keeps clusters bounded) and B
    // grows with the largest cluster. Approximate by construction: a pair
    // sharing none of its nAssign=2 nearest clusters is never compared, so
    // drops ⊆ the exact drop set (precision 1, recall < 1). This is the
    // PRODUCTION half of the exact/approx pair: `dedup_embed_cosine` is the
    // declared-exact oracle fixture that defines the semantics and anchors
    // the bound; OpsSpec asserts the subset property and recall ≥ 0.9 vs
    // its τ=0.35 drop set at sf0.01.
    QueryDef(
      "dedup_semdedup_cluster",
      // ORACLED via the index's centroids: the nAssign=3 multi-assignment
      // is RE-DERIVED from them ([[duckAssignCtes]] rn <= 3), and DuckDB
      // states the UNCOLLAPSED semantics directly — drop j iff some i < j
      // shares a probe cluster and cosine(i, j) ≥ τ — which the collapsed
      // Spark kernel provably equals (the memberDrops/repDrops case
      // analysis above). Zero-norm pairs: the kernel scores them NaN
      // (≥ τ false); DuckDB's 0/0 is NULL, equally excluded by the WHERE.
      // OpsSpec keeps the recall-vs-exact bounds.
      Some(
        s"WITH $duckAssignCtes, " +
          "ma AS (SELECT vec_id, cluster FROM rk WHERE rn <= 3), " +
          "cand AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j FROM ma a " +
          "JOIN ma b ON a.cluster = b.cluster AND a.vec_id < b.vec_id), " +
          "v AS (SELECT cand.j FROM cand JOIN embeddings ea ON ea.vec_id = cand.i " +
          "JOIN embeddings eb ON eb.vec_id = cand.j " +
          s"WHERE ${Duck.cos("ea.embedding", "eb.embedding")} >= 0.35) " +
          "SELECT DISTINCT j AS drop_id FROM v ORDER BY drop_id"),
      (s, d) => {
        val sp = s
        import sp.implicits._
        val (_, centroids) = index(s, d)
        val tau = 0.35
        // multi-assignment (the SemDeDup recall lever): every vector joins
        // its nAssign nearest clusters' pair searches, so a τ-pair is
        // missed only when the two vectors share NONE of those clusters.
        // Measured recall vs the exact drop set at sf0.01: 0.40 single,
        // 0.84 at 2, ≥0.9 at 3 — the OpsSpec pairing bound — at nAssign²×
        // the within-cluster pair work, still Σn_c², never N². Precision
        // stays 1: every emitted drop is an exactly-verified cosine ≥ τ
        // pair, so drops ⊆ the exact drop set regardless of assignment.
        val nAssign = 3
        val bcC = s.sparkContext.broadcast(centroids)
        // [[Collapse]] before the cluster kernel: identical embeddings probe
        // identical clusters, every within-group pair is cosine 1 ≥ τ, and
        // the pairwise drop rule ("drop the higher id") resolves to "drop
        // every non-minimum member" — provable without a single kernel
        // comparison. A rep-level cross drop implies nothing further (that
        // rep's members are already dropped within-group), so the drop SET
        // is exactly the uncollapsed operator's: any cross pair's max is
        // either a non-min member, caught within-group, or a
        // representative, caught by the rep pair.
        val grouped = Collapse.groups(Tables.t(s, d, "embeddings"),
          "vec_id", "embedding", Seq("embedding"))
        // Zero-norm guard: the uncollapsed kernel scores identical zero
        // vectors as 0/0 = NaN, and NaN >= τ is false — so it never dropped
        // them. The unconditional "drop every non-min member" rule must
        // therefore skip all-zero groups to reproduce that drop set exactly.
        val memberDrops = Collapse.members(
            grouped.where(exists(col("embedding"), e => e =!= lit(0.0f))))
          .where(col("m") > col("gid"))
          .select(col("m").as("drop_id"))
        // one rep row per probe cluster; the 4-block kernel then runs per
        // cluster, and each verified pair drops its higher id
        val probes = grouped.select(col("gid"), col("embedding"))
          .as[(Long, Array[Float])]
          .flatMap { case (gid, emb) =>
            val cs = bcC.value
            val v = emb.map(_.toDouble)
            cs.indices.map(c => (Vectors.sqDist(v, cs(c)), c))
              .sorted.take(nAssign).map(c => (c._2, gid, emb))
          }
        val repDrops = Collapse.blockPairs(probes, B = 4, tau)(
            (e: Array[Float]) => Vectors.normed(e.map(_.toDouble)), Vectors.rawCosine)
          .toDF("cluster", "ga", "gb", "cos").select(col("gb").as("drop_id"))
        repDrops.unionByName(memberDrops).distinct().orderBy("drop_id")
      })
  )
}
