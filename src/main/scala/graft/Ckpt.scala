package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Lineage-truncation backend for the iterative kernels (label
  * propagation, PageRank fixed point, triangle orientation, recursive
  * CTE rounds): every loop must cut its plan per round or driver-side
  * analysis goes exponential. The default is eager `localCheckpoint()` —
  * fast (executor-local blocks, no replication) but NOT executor-loss-
  * safe: a lost executor takes its blocks and there is no lineage left to
  * recompute them, so the job dies.
  *
  * `GRAFT_RELIABLE_CKPT=1` switches every call site to reliable
  * `Dataset.checkpoint()`: round state is materialized to files under the
  * checkpoint dir, which survive executor death, so the scheduler re-reads
  * instead of aborting — the mode a real cluster runs iterative jobs in
  * (there the dir must be shared storage: HDFS/S3; here /tmp is shared
  * across the local-cluster executor JVMs on one box). FaultDrill drills
  * dedup_cluster_components / graph_pagerank under this flag. On the
  * single-JVM bench the reliable path only adds a file round-trip per
  * round for durability nothing can use.
  *
  * Returned ids are the persistent-RDD blocks the call created (empty in
  * reliable mode — checkpoint files are freed with the checkpoint dir,
  * not by block id); callers free superseded rounds' ids with [[release]],
  * never via ContextCleaner GC, whose timing is nondeterministic. Ids come
  * from diffing the context's persistent RDDs around the checkpoint, which
  * is sound because query bodies run serially on the driver.
  *
  * Checkpoint FILES in reliable mode are only freed by the ContextCleaner
  * when `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set at
  * context creation, which [[Session]] does. A session built WITHOUT it
  * (an embedding application's own) cannot be fixed post-hoc, so the
  * first checkpoint under such a context warns once with the bound: disk
  * grows by one round-state tree per loop round until app exit.
  */
object Ckpt {
  val reliable: Boolean = sys.env.contains("GRAFT_RELIABLE_CKPT")
  private val warnedNoCleaner = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One-slot checkpoint registry: for query bodies whose plan
    * consumes one derived table TWICE (a stats aggregate joined back
    * against its own source — bm25, tf-idf), checkpointing the shared
    * table executes its expensive pass ONCE per invocation instead of once
    * per consumer. The slot pins the checkpointed Dataset and releases the
    * PREVIOUS invocation's blocks (the graph_pagerank final-state
    * discipline) — release must lag one invocation because the returned
    * plan still references the blocks when the query function returns.
    * The checkpoint itself is eager and runs inside the caller's timed
    * window; nothing is reused across invocations.
    */
  private val slots = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String), (Dataset[_], Seq[Int])]()

  def slot[T](key: String, df: Dataset[T]): Dataset[T] = {
    val sc = df.sparkSession.sparkContext
    val (out, ids) = apply(df)
    Option(slots.put((sc, key), (out, ids))).foreach { case (_, oldIds) =>
      release(df.sparkSession, oldIds)
    }
    out
  }

  /** Unpersist the blocks `ids` (as returned by [[apply]]) that are still
    * live; ids already gone are skipped.
    */
  def release(s: SparkSession, ids: Seq[Int]): Unit = {
    val live = s.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  def apply[T](df: Dataset[T]): (Dataset[T], Seq[Int]) = {
    val sc = df.sparkSession.sparkContext
    if (reliable) {
      this.synchronized {
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(s"${sys.props("java.io.tmpdir")}/graft_reliable_ckpt")
      }
      if (!sc.getConf.getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints",
          defaultValue = false) && warnedNoCleaner.compareAndSet(false, true))
        Console.err.println("[graft.Ckpt] GRAFT_RELIABLE_CKPT is on but this " +
          "SparkContext was built without spark.cleaner.referenceTracking." +
          "cleanCheckpoints=true: superseded checkpoint trees will accumulate " +
          "(one per loop round) until the application exits.")
      (df.checkpoint(), Seq.empty)
    } else {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint()
      (out, sc.getPersistentRDDs.keySet.filterNot(before).toSeq)
    }
  }
}
